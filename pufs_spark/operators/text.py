"""Text-analysis operators for training-data pipelines.

All hot-path logic is built-in pyspark.sql.functions (JVM-side,
whole-stage-codegen'd) — no Python UDFs. Each op has a matching ANSI-SQL
oracle in __spark_entry__.py. These generalize the reference's only text
ops (name validation regex core/datastore.go:21, sha256 hashing
core/freezer.go:386-404) to corpus scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram/stopword langid
# heuristic. Deliberately small + frozen: the oracle SQL embeds the
# same lists.
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "auf"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans", "que", "pour"],
    "es": ["el", "la", "los", "las", "es", "un", "una", "que", "por", "para"],
    "it": ["il", "la", "gli", "le", "che", "di", "un", "una", "per", "con"],
}

# Guard the single-parse F.expr sites below (ADVICE r15): the words are
# interpolated as raw single-quoted SQL literals, so a future word
# containing a quote/backslash (French "l'") would become a parse error
# or a wrong predicate. Fail at import, next to the data, not at the
# call site.
for _words in STOPWORDS.values():
    for _w in _words:
        if not (_w.isascii() and _w.isalpha() and _w.islower()):
            raise ValueError(
                f"stopword {_w!r} is not a bare [a-z]+ word; the F.expr "
                "literal interpolation in quality_stats/lang_id would break"
            )


def tokens_col(text_col: str = "text"):
    """Whitespace tokenization; empty/blank text → empty array."""
    return F.when(
        F.length(F.trim(F.col(text_col))) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(F.trim(F.col(text_col)), r"\s+"))


def _tokens_sql(text_col: str) -> str:
    """tokens_col as a SQL fragment (for single-parse F.expr sites) —
    MUST stay semantically identical to tokens_col."""
    t = f"`{text_col}`"
    return (
        f"CASE WHEN length(trim({t})) = 0 THEN cast(array() as array<string>) "
        f"ELSE split(trim({t}), '\\\\s+') END"
    )


def token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token counting (the BPE-ish regex variant is
    token_count_bpe below)."""
    return df.withColumn("n_tokens", F.size(tokens_col(text_col)).cast("long"))


def token_count_bpe(df: DataFrame, text_col: str = "text") -> DataFrame:
    """BPE-ish sub-word proxy: count word chunks + digits + punctuation
    as separate tokens (regexp-based, stays JVM-side)."""
    pieces = F.expr(
        f"regexp_extract_all({text_col}, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\\\s]', 0)"
    )
    return df.withColumn("n_bpe_tokens", F.size(pieces).cast("long"))


def quality_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality-scoring signals: length, alpha/space/punct ratios,
    mean token length, stopword ratio (English list).

    Spread before the expression pipeline: five regexp passes + two
    array folds per row are compute-dense, and a small-bytes corpus
    otherwise runs them on one core (see util.spread_for_compute —
    sf1.0 T1 measured 4.7s on 2 of 32 cores)."""
    from pufs_spark.operators.util import spread_for_compute

    df = spread_for_compute(df)
    toks = tokens_col(text_col)
    length = F.length(F.col(text_col))
    nz = F.when(length == 0, F.lit(1)).otherwise(length)  # div-by-zero guard
    n_toks = F.size(toks)
    nz_toks = F.when(n_toks == 0, F.lit(1)).otherwise(n_toks)
    return (
        df.withColumn("n_chars_m", length.cast("long"))
        .withColumn("n_tokens", n_toks.cast("long"))
        .withColumn(
            "alpha_ratio",
            F.length(F.regexp_replace(F.col(text_col), "[^A-Za-z]", ""))
            / nz,
        )
        .withColumn(
            "space_ratio",
            F.length(F.regexp_replace(F.col(text_col), "[^ ]", "")) / nz,
        )
        .withColumn(
            "punct_ratio",
            F.length(F.regexp_replace(F.col(text_col), "[^.,;:!?]", "")) / nz,
        )
        .withColumn(
            "mean_token_len",
            F.aggregate(
                F.transform(toks, lambda t: F.length(t).cast("long")),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            / nz_toks,
        )
        .withColumn(
            "stopword_ratio",
            # one parsed expression (r15): the Column-composed literal
            # array + lambda was ~15 py4j calls per call site
            F.expr(
                "size(filter({toks}, t -> array_contains(array({sw}), lower(t))))".format(
                    toks=_tokens_sql(text_col),
                    sw=", ".join(f"'{w}'" for w in STOPWORDS["en"]),
                )
            )
            / nz_toks,
        )
    )


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-vote language ID. Argmax over per-language hit counts,
    ties broken by language code ascending — the same deterministic rule
    the oracle implements.

    Spread first: one array_contains filter PER LANGUAGE per row makes
    this the most compute-dense expression pipeline in text.py (sf1.0
    T2 measured 6.6s on 2 of 32 cores — the suite's slowest query
    after the r11 D1 fix)."""
    from pufs_spark.operators.util import spread_for_compute

    df = spread_for_compute(df)
    toks = F.transform(tokens_col(text_col), F.lower)

    def hits(words):
        # one parsed expression per language (r15): the Column-composed
        # 10-literal array + lambda cost ~15 py4j calls per language
        wl = ", ".join(f"'{w}'" for w in words)
        return F.expr(
            f"size(filter(__pufs_toks, t -> array_contains(array({wl}), t)))"
        )

    # collision-resistant working name (ADVICE r15): an input frame
    # that already carries `_toks` must not be silently overwritten
    if "__pufs_toks" in df.columns:
        raise ValueError("lang_id input already has a `__pufs_toks` column")
    out = df.withColumn("__pufs_toks", toks)
    for lang, words in STOPWORDS.items():
        out = out.withColumn(f"_hits_{lang}", hits(words))
    langs = sorted(STOPWORDS)
    best = F.greatest(*[F.col(f"_hits_{lang}") for lang in langs])
    pred = F.coalesce(
        *[
            F.when(F.col(f"_hits_{lang}") == best, F.lit(lang))
            for lang in langs
        ]
    )
    return (
        out.withColumn("pred_lang", F.when(best > 0, pred).otherwise(F.lit("und")))
        .drop("__pufs_toks", *[f"_hits_{lang}" for lang in langs])
    )


def normalize_text(text_col: str = "text"):
    """lowercase → strip non-alnum → collapse whitespace → trim."""
    c = F.lower(F.col(text_col))
    c = F.regexp_replace(c, "[^a-z0-9 ]", " ")
    c = F.regexp_replace(c, " +", " ")
    return F.trim(c)


def _poly31_hash(g, k: int):
    """Base-31 polynomial over the first k char codes — chosen because
    the identical arithmetic is expressible in ANSI SQL
    (ascii(substring(...))*31^j sums), so an external engine can
    reproduce fingerprints bit-for-bit. Fits int64 for k<=12 (no mod
    needed); missing positions (short grams) contribute ascii('')=0 in
    both Spark and DuckDB."""
    out = None
    for j in range(1, k + 1):
        term = F.ascii(g.substr(F.lit(j), F.lit(1))).cast("bigint") * F.lit(
            31 ** (k - j)
        ).cast("bigint")
        out = term if out is None else out + term
    return out


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
    hasher: str = "xxhash64",
) -> DataFrame:
    """Document fingerprinting by winnowing (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every k-gram (the rolling
    hash), take the min hash of each window of ``window`` consecutive
    k-grams, dedup. Guarantees: identical substrings of length
    >= k+window-1 share a fingerprint, so local edits only perturb
    nearby fingerprints. Everything is array expressions on the JVM —
    hashes, sliding windows (slice), mins — one narrow pass, no Python.

    ``hasher``: 'xxhash64' (JVM-internal, fastest — default) or
    'poly31' (cross-engine-reproducible; see _poly31_hash) — the
    winnowing guarantees hold for any deterministic hash.

    Returns (id, fp) exploded — one row per distinct fingerprint."""
    from pufs_spark.operators.util import spread_for_compute

    # The nested HOFs here (per-char substring -> per-gram hash ->
    # per-position slice+array_min) run INTERPRETED (whole-stage
    # codegen doesn't cover higher-order functions), ~40 us/char — the
    # most compute-dense operator per input byte in the text family.
    # A small-bytes corpus arrives as ONE scan split and ran 20+ min
    # on one core at sf0.1 (r14, jstack'd mid-run); spreading is the
    # same measured fix as D1/T1/T2 (util.spread_for_compute).
    df = spread_for_compute(df, [id_col, text_col])
    n = F.length(F.col(text_col))
    grams = (
        F.when(n == 0, F.array().cast("array<string>"))
        .when(n < k, F.array(F.col(text_col)))  # short doc: one gram
        .otherwise(
            F.expr(
                f"transform(sequence(1, length({text_col}) - {k - 1}),"
                f" i -> substring({text_col}, i, {k}))"
            )
        )
    )
    if hasher == "poly31":
        hashes = F.transform(grams, lambda g: _poly31_hash(g, k))
    else:
        hashes = F.transform(grams, lambda g: F.xxhash64(g))
    n_h = F.size(hashes)
    mins = F.when(
        n_h < window,
        F.when(n_h > 0, F.array(F.array_min(hashes))).otherwise(
            F.array().cast("array<bigint>")
        ),
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), n_h - (window - 1)),
            lambda j: F.array_min(F.slice(hashes, j, window)),
        )
    )
    return df.select(
        F.col(id_col), F.explode(F.array_distinct(mins)).alias("fp")
    )


def boilerplate_ngrams(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_docs: int = 5,
) -> DataFrame:
    """Corpus-level boilerplate detection (the repeated-n-gram family
    of Lee et al., "Deduplicating Training Data Makes Language Models
    Better", ACL'22): word ``n``-grams occurring in at least
    ``min_docs`` DISTINCT documents — headers, footers, license
    blurbs. Returns (gram, n_docs).

    Plan shape for 100 TB: tokenize + sliding-window n-grams are
    narrow array expressions (JVM, codegen); explode → per-doc
    distinct → count is one hash aggregation with map-side partials,
    keyed by gram — no joins, no windows, nothing quadratic."""
    toks = tokens_col(text_col)
    nt = F.size(toks)
    grams = F.when(nt < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), nt - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        )
    )
    exploded = df.select(
        F.col(id_col), F.explode(grams).alias("gram")
    ).distinct()
    return (
        exploded.groupBy("gram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
    )


def boilerplate_fraction(
    df: DataFrame,
    grams: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Per-document boilerplate signal: fraction of a doc's n-grams
    that are corpus boilerplate (from ``boilerplate_ngrams``) — a
    quality-gate column for clean_corpus-style filters. Broadcast the
    (small) boilerplate set into the per-doc probe."""
    from pyspark.sql.functions import broadcast

    toks = tokens_col(text_col)
    nt = F.size(toks)
    gs = F.when(nt < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), nt - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        )
    )
    per_doc = df.select(F.col(id_col), F.explode(gs).alias("gram"))
    hits = (
        per_doc.join(broadcast(grams.select("gram")), "gram", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("_bp"))
    )
    totals = per_doc.groupBy(id_col).agg(F.count(F.lit(1)).alias("_all"))
    return (
        totals.join(hits, id_col, "left")
        .select(
            id_col,
            (F.coalesce(F.col("_bp"), F.lit(0)) / F.col("_all")).alias(
                "bp_fraction"
            ),
        )
    )


# PII patterns chosen to mean the same thing in Java regex (Spark) and
# RE2 (DuckDB): no backrefs, no lookaround — a training-data scrubber
# must behave identically wherever the corpus is re-processed. Order
# matters (cards before generic digit runs) and is part of the contract.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("card", r"\b\d{12,19}\b"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
    ("phone", r"\b\d{3}[- ]\d{3,4}[- ]\d{4}\b"),
]


def build_bm25_index(
    corpus_df: DataFrame,
    table: str,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 64,
) -> None:
    """Persist the corpus side of BM25 as a reusable inverted index:
    postings (``_w`` term, doc id, ``_dl`` doc length, ``_tf`` term
    frequency) BUCKETED+sorted by term in ``table``, plus a one-row
    corpus-stats table ``<table>_stats`` (n_docs, avgdl).

    ``bm25_search(corpus_index=...)`` then answers a query from the
    postings for just its terms (an In-filter that prunes the bucketed
    scan) with no tokenize/explode over the corpus and no corpus-stats
    pass — the full-corpus work happens ONCE here, which is the
    economics a standing 100TB search service needs (queries arrive
    forever, the corpus changes slowly). Same shape as
    build_near_dup_index / build_ann_index."""
    spark = corpus_df.sparkSession
    toks = tokens_col(text_col)
    words = corpus_df.select(
        F.col(id_col), F.size(toks).alias("_dl"), F.explode(toks).alias("_w")
    )
    postings = words.groupBy(id_col, "_w", "_dl").agg(
        F.count(F.lit(1)).alias("_tf")
    )
    # DROP first: saveAsTable with an explicit path fails (or silently
    # keeps the old external location) if the table already exists.
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    (
        postings.write.bucketBy(buckets, "_w")
        .sortBy("_w")
        .option("path", path)
        .mode("overwrite")
        .saveAsTable(table)
    )
    stats = (
        corpus_df.agg(
            F.count(F.lit(1)).alias("_n_total"),
            F.avg(F.size(toks)).alias("_avgdl"),
        )
        .withColumn("_batches", F.array().cast("array<string>"))
        .withColumn("_pending", F.lit(None).cast(_PENDING_TYPE))
    )
    spark.sql(f"DROP TABLE IF EXISTS {table}_stats")
    (
        stats.write.option("path", f"{path}_stats")
        .mode("overwrite")
        .saveAsTable(f"{table}_stats")
    )
    # a rebuild may land at a NEW path while the old external stats
    # files stay on disk (DROP of an external table deletes nothing) —
    # a cached location would keep serving the stale row to the
    # search-side peek
    _STATS_LOC_CACHE.pop(table, None)


# How many applied-batch ids the stats row remembers for replay
# detection. Replays come from the immediately-failed/retried batch
# (foreachBatch at-least-once), so a short ring is plenty; a replay
# older than the ring would re-apply, which the caller contract
# (monotone batch ids from a streaming checkpoint) already precludes.
_BM25_BATCH_RING = 64

# The commit-marker intent recorded in the stats row before a batch's
# postings append: the batch id, its exact stats contribution (n docs,
# Σ doc lengths), and a snapshot of the postings table's file listing
# (count + digest) taken BEFORE the append. Spark's postings append is
# all-or-nothing at job commit, so after a crash the listing either
# still equals the snapshot (append never landed → redo) or differs
# (append landed → fold the recorded n/s into the stats and move on).
_PENDING_TYPE = (
    "struct<id: string, n: bigint, s: bigint, nfiles: bigint, fhash: string>"
)
_STATS_SCHEMA = (
    "_n_total long, _avgdl double, _batches array<string>, "
    f"_pending {_PENDING_TYPE}"
)


def _stats_from_postings(spark, table: str):
    """The corpus stats recomputed EXACTLY from the postings table
    (n_docs = distinct ids, avgdl = mean per-doc ``_dl`` — every
    posting row carries its doc's length, so the stats are fully
    redundant with the postings). Lazy one-row frame; the disaster-
    recovery path when the stats row is lost."""
    pt = spark.table(table)
    id_col = next(c for c in pt.columns if not c.startswith("_"))
    per_doc = pt.groupBy(id_col).agg(F.first("_dl").alias("_dl"))
    return per_doc.agg(
        F.count(F.lit(1)).alias("_n_total"), F.avg("_dl").alias("_avgdl")
    )


def _load_bm25_stats(spark, table: str, path: str) -> tuple[dict, bool]:
    """(stats row as dict, migrate?) — self-healing: a MISSING stats
    table (a crash inside the one-time schema migration's DROP) is
    recreated, and an EMPTY one (a crash inside the tiny overwrite
    rewrite's delete-then-move commit) is rebuilt, both exactly from
    the postings via ``_stats_from_postings``. The recovered ring is
    empty — totals are exact, but replay protection for the batch
    whose commit crashed is lost (see ``indexes.read_index_meta`` for
    the same documented residual)."""
    stats_t = f"{table}_stats"
    if not spark.catalog.tableExists(stats_t):
        r = _stats_from_postings(spark, table).collect()[0]
        spark.createDataFrame(
            [(r["_n_total"], r["_avgdl"], [], None)], _STATS_SCHEMA
        ).write.option("path", f"{path}_stats").mode("overwrite").saveAsTable(
            stats_t
        )
    cols = spark.table(stats_t).columns
    migrate = "_batches" not in cols or "_pending" not in cols
    rows = spark.table(stats_t).collect()
    if rows:
        return rows[0].asDict(), migrate
    r = _stats_from_postings(spark, table).collect()[0]
    return (
        {"_n_total": r["_n_total"], "_avgdl": r["_avgdl"],
         "_batches": [], "_pending": None},
        migrate,
    )


def _write_bm25_stats(
    spark, table: str, n_total: int, avgdl, applied: list, pending, migrate: bool
) -> None:
    """Atomically rewrite the one-row stats table. ``migrate=True``
    recreates the table in place (DROP + saveAsTable at its existing
    location) — required when the live table predates the
    ``_batches``/``_pending`` columns, where an insertInto of the
    wider row would raise a column-count AnalysisException AFTER the
    postings were already appended (the r6 advisor's finding)."""
    from pufs_spark.operators import indexes

    stats_t = f"{table}_stats"
    row = [(n_total, avgdl, applied, pending)]
    stats = spark.createDataFrame(row, _STATS_SCHEMA)
    if migrate:
        loc = indexes.table_location(spark, stats_t)
        spark.sql(f"DROP TABLE {stats_t}")
        stats.write.option("path", loc).mode("overwrite").saveAsTable(stats_t)
    else:
        stats.write.mode("overwrite").insertInto(stats_t, overwrite=True)


def update_bm25_index(
    new_docs: DataFrame,
    table: str,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    batch_id: str | None = None,
) -> None:
    """Incrementally fold a NEW batch of documents into a persisted
    BM25 index (the ingest-side twin of ``build_near_dup_index``'s
    batch economics): the batch's postings APPEND to the bucketed
    table — Spark writes each insert's files under the existing bucket
    spec, so the per-term scan pruning is preserved and only the batch
    shuffles — and the one-row stats update EXACTLY from the old stats
    plus batch aggregates (counts and sums compose:
    avgdl' = (avgdl·n + Σ new_dl) / (n + n_new)), no corpus re-scan.
    Caller contract: batch doc ids must be new (re-ingesting an id
    would double its postings — dedup upstream, e.g. exact_dedup or
    stream_dedup).

    Crash/replay semantics (with ``batch_id``, e.g. the foreachBatch
    epoch id): a three-step commit protocol makes every crash point
    recoverable without a rebuild —

    1. INTENT: rewrite the stats row with ``_pending`` = (batch_id,
       the batch's exact n/Σlen contribution, and a pre-append
       file-listing snapshot of the postings table). Totals unchanged.
    2. APPEND the batch's postings (all-or-nothing at job commit).
    3. COMMIT: rewrite the stats row — totals folded, batch_id pushed
       onto the applied ring (last ``_BM25_BATCH_RING``), pending
       cleared.

    A replay of a fully-applied batch returns at the ring check. A
    crash before step 2's commit leaves the listing equal to the
    snapshot → the replay redoes the append. A crash strictly between
    steps 2 and 3 (the window the r6 verdict asked closed) leaves the
    listing DIFFERENT from the snapshot → the replay skips the append
    and rolls the stats forward from the recorded intent. A pending
    intent from some OTHER batch (caller skipped a crashed batch) is
    reconciled the same way before this batch proceeds. Without
    ``batch_id`` there is no marker and a crash between the two writes
    needs ``build_bm25_index`` — callers with durability requirements
    should always pass one."""
    from pufs_spark.operators import indexes

    spark = new_docs.sparkSession
    old, migrate = _load_bm25_stats(spark, table, path)
    applied = list(old.get("_batches") or [])
    n_total, avgdl = old["_n_total"], old["_avgdl"]
    pend = old.get("_pending")
    has_pend = pend is not None and pend["id"] is not None
    if batch_id is not None and (
        batch_id in applied
        or indexes.applied_marker_exists(spark, table, batch_id)
    ):
        # Replay of a fully-applied batch. The marker-file arm covers
        # the crash that EMPTIED the stats table mid-commit: totals
        # were rebuilt exactly from the postings, the ring was lost,
        # but the applied-marker file survives — without it this
        # replay would re-append (ROADMAP weak spot 8, now closed).
        if has_pend:
            reconcile_bm25_pending(spark, table, path)
        return

    if has_pend:
        landed = indexes.files_snapshot(spark, table) != (
            pend["nfiles"], pend["fhash"],
        )
        if landed:
            # the pending batch's postings are in the table; fold its
            # recorded contribution and mark it applied
            n2 = n_total + pend["n"]
            total = (avgdl or 0.0) * n_total + (pend["s"] or 0)
            n_total, avgdl = n2, (total / n2) if n2 else None
            if pend["id"] not in applied:
                applied = (applied + [pend["id"]])[-_BM25_BATCH_RING:]
            indexes.write_applied_marker(spark, table, pend["id"])
        _write_bm25_stats(
            spark, table, n_total, avgdl, applied, None, migrate
        )
        migrate = False
        if landed and pend["id"] == batch_id:
            return  # this very batch: recovery completed it

    # Materialize (id, tokens) once: the stats aggregate and the
    # postings append MUST observe the same rows — a non-deterministic
    # input (sampling, limit-after-shuffle) recomputed per job could
    # record an intent n/s disagreeing with the postings actually
    # appended, permanently skewing the totals after a crash-replay
    # fold of that intent (ADVICE r8).
    src = new_docs.select(
        F.col(id_col), tokens_col(text_col).alias("_toks")
    ).persist()
    try:
        words = src.select(
            id_col, F.size("_toks").alias("_dl"),
            F.explode("_toks").alias("_w"),
        )
        postings = words.groupBy(id_col, "_w", "_dl").agg(
            F.count(F.lit(1)).alias("_tf")
        )
        batch = src.agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.size("_toks")).alias("s")
        ).collect()[0]
        if batch_id is not None:
            nfiles, fhash = indexes.files_snapshot(spark, table)
            _write_bm25_stats(
                spark, table, n_total, avgdl, applied,
                (batch_id, batch["n"], batch["s"] or 0, nfiles, fhash),
                migrate,
            )
            migrate = False
        postings.select(
            spark.table(table).columns  # align column order for insertInto
        ).write.insertInto(table)
        if batch_id is not None:
            # atomic claim BEFORE the non-atomic one-row rewrite below:
            # a crash inside that rewrite can no longer reset replay
            # protection for this batch
            indexes.write_applied_marker(spark, table, batch_id)
        n_new = n_total + batch["n"]
        total_len = (avgdl or 0.0) * n_total + (batch["s"] or 0)
        if batch_id is not None:
            applied = (applied + [batch_id])[-_BM25_BATCH_RING:]
        _write_bm25_stats(
            spark, table, n_new, (total_len / n_new) if n_new else None,
            applied, None, migrate,
        )
    finally:
        src.unpersist()


def reconcile_bm25_pending(spark, table: str, path: str | None = None) -> bool:
    """Settle a leftover ``_pending`` intent in the stats row without
    running an update — the BM25 twin of the ``<table>_meta`` arm of
    ``indexes.reconcile_pending``, called before any file-layout
    change (compaction) so the landed-ness probe can never race one.
    Same fold as ``update_bm25_index``'s inline recovery: listing
    changed → fold the recorded n/s, push the ring, claim the marker
    file; unchanged → drop the intent. Returns True iff an intent was
    settled."""
    from pufs_spark.operators import indexes

    if path is None:
        # only consulted if the stats table is missing (then recreated
        # next to the postings' CURRENT location, which is the right
        # place after a compaction moved them)
        path = indexes.table_location(spark, table)
    old, migrate = _load_bm25_stats(spark, table, path)
    pend = old.get("_pending")
    if pend is None or pend["id"] is None:
        return False
    applied = list(old.get("_batches") or [])
    n_total, avgdl = old["_n_total"], old["_avgdl"]
    landed = indexes.files_snapshot(spark, table) != (
        pend["nfiles"], pend["fhash"],
    )
    if landed:
        n2 = n_total + pend["n"]
        total = (avgdl or 0.0) * n_total + (pend["s"] or 0)
        n_total, avgdl = n2, (total / n2) if n2 else None
        if pend["id"] not in applied:
            applied = (applied + [pend["id"]])[-_BM25_BATCH_RING:]
        indexes.write_applied_marker(spark, table, pend["id"])
    _write_bm25_stats(spark, table, n_total, avgdl, applied, None, migrate)
    return True


# table name → stats-table filesystem path, so the steady-state peek
# below costs one glob + one tiny parquet read, not a DESCRIBE
# FORMATTED catalog command per search. Stats locations are stable
# (compaction moves the postings table, never the stats sibling); a
# stale entry (table recreated elsewhere, tests) globs empty and is
# refreshed once.
_STATS_LOC_CACHE: dict[str, str | None] = {}


def _bm25_stats_view(spark, table: str):
    """The effective (_n_total, _avgdl) frame for scoring against a
    persisted index. Normally the LAZY one-row stats scan (no action
    at plan-build time). If a crashed ``update_bm25_index`` left a
    pending intent, queries must not score appended postings against
    pre-append stats: the one-row stats parquet is peeked driver-side
    (pyarrow, no Spark job — local tables only), and a landed intent
    is folded in READ-ONLY (search never writes; the next update
    commits it durably). An EMPTY stats table (crashed rewrite) scores
    from stats recomputed lazily out of the postings."""
    import glob
    import os

    from pufs_spark.operators import indexes

    stats_df = spark.table(f"{table}_stats")
    if "_pending" not in stats_df.columns:
        return stats_df.select("_n_total", "_avgdl")  # pre-marker index

    def resolve_loc():
        loc = indexes._local_path(
            indexes.table_location(spark, f"{table}_stats")
        )
        _STATS_LOC_CACHE[table] = loc
        return loc

    loc = _STATS_LOC_CACHE.get(table, ...)
    if loc is ...:
        loc = resolve_loc()
    if loc is None:
        # hdfs/s3a-backed index: no driver-side file peek, but skipping
        # the pending fold entirely would score appended postings
        # against pre-append stats after a crash (ADVICE r8) — read the
        # one-row stats table through Spark instead (tiny job per
        # search; acceptable for the non-local case only).
        try:
            rows = stats_df.collect()
        except Exception:  # noqa: BLE001 — racing a rewrite
            return stats_df.select("_n_total", "_avgdl")
        # recursive: downstream treats _pending as a plain dict
        row = rows[0].asDict(recursive=True) if rows else None
    else:
        try:
            import pyarrow.parquet as pq

            files = sorted(glob.glob(os.path.join(loc, "*.parquet")))
            if not files:  # stale cache (table recreated elsewhere)?
                loc = resolve_loc()
                files = (
                    sorted(glob.glob(os.path.join(loc, "*.parquet")))
                    if loc is not None
                    else []
                )
            row = pq.read_table(files).to_pylist()[0] if files else None
        except Exception:  # noqa: BLE001 — racing a stats rewrite
            # (missing file, ArrowInvalid from a partial/mixed-schema
            # read): the peek is best-effort, serve the lazy view
            return stats_df.select("_n_total", "_avgdl")
    if row is None:
        # stats table emptied by a crashed rewrite: exact lazy recovery
        return _stats_from_postings(spark, table)
    pend = row.get("_pending")
    if not pend or pend.get("id") is None:
        return stats_df.select("_n_total", "_avgdl")
    if indexes.files_snapshot(spark, table) == (pend["nfiles"], pend["fhash"]):
        # intent recorded but postings never landed: stats are current
        return stats_df.select("_n_total", "_avgdl")
    n = row["_n_total"] + pend["n"]
    total = (row["_avgdl"] or 0.0) * row["_n_total"] + (pend["s"] or 0)
    return spark.createDataFrame(
        [(n, (total / n) if n else None)], "_n_total long, _avgdl double"
    )


def bm25_search(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_n: int | None = None,
    corpus_index: str | None = None,
) -> DataFrame:
    """Keyword search over the corpus: Okapi BM25 scores for a bag of
    query terms (Robertson & Zaragoza 2009, the standard probabilistic
    ranking function). Returns (id, score) for every doc matching at
    least one term, optionally truncated to the global ``top_n``.

    ``corpus_index`` names a table built by ``build_bm25_index`` over
    the same corpus: postings and corpus stats are then read from the
    index — no tokenize/explode of ``df`` and no corpus-stats pass per
    query; the term filter prunes the bucketed postings scan. Without
    it, document frequencies come from a filtered aggregate over the
    exploded corpus (the filter on the tiny term list pushes below the
    explode) and corpus stats from one lazy corpus pass joined in as a
    broadcast single-row frame (nothing executes until the returned
    frame does)."""
    if not query_terms:
        raise ValueError("query_terms is empty")
    spark = df.sparkSession
    # Dedup the bag: a repeated term would double-join every matching
    # token, inflating tf inside the saturation curve — not BM25's qtf
    # weighting, just wrong scores.
    qterms = sorted(set(query_terms))
    toks = tokens_col(text_col)
    if corpus_index is not None:
        # isin (not a join): an In predicate pushes into the bucketed
        # parquet scan, so only the query terms' buckets/row-groups read.
        tf = spark.table(corpus_index).where(F.col("_w").isin(qterms))
        stats_df = _bm25_stats_view(spark, corpus_index)
    else:
        terms = spark.createDataFrame([(t,) for t in qterms], "_w string")
        words = df.select(
            F.col(id_col), F.size(toks).alias("_dl"), F.explode(toks).alias("_w")
        )
        matched = words.join(F.broadcast(terms), "_w")
        tf = matched.groupBy(id_col, "_w", "_dl").agg(
            F.count(F.lit(1)).alias("_tf")
        )
        stats_df = df.agg(
            F.count(F.lit(1)).alias("_n_total"),
            F.avg(F.size(toks)).alias("_avgdl"),
        )
    # tf has one row per (doc, term), so df(term) is a plain count.
    dfreq = tf.groupBy("_w").agg(F.count(F.lit(1)).alias("_df"))
    idf = F.log(
        (F.col("_n_total") - F.col("_df") + 0.5) / (F.col("_df") + 0.5) + 1.0
    )
    per_term = (
        tf.join(F.broadcast(dfreq), "_w")
        # 1-row broadcast stats frame instead of collected literals:
        # keeps the whole query lazy (no action at plan-build time).
        .join(F.broadcast(stats_df))
        .withColumn(
            "_s",
            idf
            * (F.col("_tf") * (k1 + 1))
            / (
                F.col("_tf")
                + k1
                * (
                    1
                    - b
                    + b * F.col("_dl") / F.coalesce(F.col("_avgdl"), F.lit(1.0))
                )
            ),
        )
    )
    scored = per_term.groupBy(id_col).agg(F.sum("_s").alias("score"))
    if top_n is not None:
        scored = scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(top_n)
    return scored


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Within-document repetition signals (the Gopher repetition
    filters, Rae et al. 2021 §A1.1: machine-generated and boilerplate
    text repeats itself): distinct-word ratio, most-frequent-word
    fraction, most-frequent-2-gram fraction. Low distinct ratio or a
    high top-fraction flags spammy/templated docs.

    Plan: explode words (and 2-grams) → per-(doc, term) count →
    per-doc max/sum/distinct. Two hash-agg pipelines with map-side
    partials, joined on doc_id — no windows, nothing quadratic."""
    toks = tokens_col(text_col)
    words = df.select(F.col(id_col), F.explode(toks).alias("_w"))
    wstats = (
        words.groupBy(id_col, "_w")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy(id_col)
        .agg(
            F.sum("_c").alias("_n"),
            F.count(F.lit(1)).alias("_distinct"),
            F.max("_c").alias("_top"),
        )
    )
    nt = F.size(toks)
    grams2 = F.when(nt < 2, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), nt - 1),
            lambda i: F.array_join(F.slice(toks, i, 2), " "),
        )
    )
    g2 = df.select(F.col(id_col), F.explode(grams2).alias("_g"))
    gstats = (
        g2.groupBy(id_col, "_g")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy(id_col)
        .agg(F.sum("_c").alias("_gn"), F.max("_c").alias("_gtop"))
    )
    return (
        df.select(id_col)
        .join(wstats, id_col, "left")
        .join(gstats, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("_n"), F.lit(0)).cast("bigint").alias("n_tokens"),
            F.when(F.coalesce(F.col("_n"), F.lit(0)) == 0, F.lit(0.0))
            .otherwise(F.col("_distinct") / F.col("_n").cast("double"))
            .alias("distinct_word_ratio"),
            F.when(F.coalesce(F.col("_n"), F.lit(0)) == 0, F.lit(0.0))
            .otherwise(F.col("_top") / F.col("_n").cast("double"))
            .alias("top_word_frac"),
            F.when(F.coalesce(F.col("_gn"), F.lit(0)) == 0, F.lit(0.0))
            .otherwise(F.col("_gtop") / F.col("_gn").cast("double"))
            .alias("top_2gram_frac"),
        )
    )


def eval_contamination(
    df: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Decontamination: per-document overlap with an evaluation set,
    measured as the fraction of the doc's DISTINCT word ``n``-grams
    that appear anywhere in ``eval_df`` — the eval-leakage check of
    large-model data pipelines (n-gram collision scan, Brown et al.
    2020 appendix C; PaLM/Llama variants differ only in n). Returns
    every doc with (n_grams, n_contaminated, contamination); filter
    ``contamination > 0`` to quarantine.

    Plan shape for 100 TB: eval sets are small by definition, so the
    distinct eval n-grams broadcast into a left-semi probe of the
    exploded doc grams — corpus-sized work is one explode + two hash
    aggs with map-side partials; nothing quadratic, no shuffle of the
    eval side."""
    toks = tokens_col(text_col)
    nt = F.size(toks)
    gs = F.when(nt < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), nt - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        )
    )
    doc_grams = df.select(F.col(id_col), F.explode(gs).alias("gram")).distinct()
    eval_grams = (
        eval_df.select(F.explode(gs).alias("gram")).distinct()
    )
    hits = (
        doc_grams.join(F.broadcast(eval_grams), "gram", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("_hit"))
    )
    totals = doc_grams.groupBy(id_col).agg(F.count(F.lit(1)).alias("_all"))
    return (
        df.select(id_col)
        .join(totals, id_col, "left")
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("_all"), F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce(F.col("_hit"), F.lit(0))
            .cast("bigint")
            .alias("n_contaminated"),
            F.when(F.coalesce(F.col("_all"), F.lit(0)) == 0, F.lit(0.0))
            .otherwise(
                F.coalesce(F.col("_hit"), F.lit(0))
                / F.col("_all").cast("double")
            )
            .alias("contamination"),
        )
    )


def redact_pii(
    df: DataFrame, text_col: str = "text", out_col: str = "redacted"
) -> DataFrame:
    """PII scrubbing for training corpora: emails, card-length digit
    runs, IPv4s, phone shapes → ``[PII:<kind>]``. Sequential
    regexp_replace — all JVM, codegen'd, no Python; the same pattern
    list applied in the same order is the cross-engine contract
    (oracle: DuckDB regexp_replace with 'g')."""
    c = F.col(text_col)
    for kind, pat in PII_PATTERNS:
        c = F.regexp_replace(c, pat, f"[PII:{kind}]")
    return df.withColumn(out_col, c)


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: sha256 of the normalized text. Collapses
    formatting-only variants to one id (the corpus-scale cousin of the
    reference's content BIDs, core/freezer.go:386-404)."""
    return df.withColumn("fp", F.sha2(normalize_text(text_col), 256))
