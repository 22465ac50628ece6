"""Catalog error taxonomy (mirrors reference error semantics:
core/nodedb.go + core/datastore.go error returns)."""


class CatalogError(Exception):
    pass


class NotFoundError(CatalogError):
    """Node / path / label does not exist."""


class ExistsError(CatalogError):
    """(parent, name) already taken (reference: duplicate mkdir refused)."""


class NotDirError(CatalogError):
    """Operation requires a directory (reference: core/nodedb.go:497-503)."""


class IsDirError(CatalogError):
    """Operation requires a file."""


class DirNotEmptyError(CatalogError):
    """rmdir of non-empty dir refused (reference: core/nodedb.go:259-267)."""


class InvalidNameError(CatalogError):
    """Name fails the charset regex (reference: core/datastore.go:21)."""


class TooManyInodesError(CatalogError):
    """Inode space exhausted (reference: core/datastore.go:148)."""


class NotMountPointError(CatalogError):
    """Mount target must be an empty dir (reference: core/nodedb.go:382-408)."""


class StaleReadError(CatalogError):
    """Pinned remote snapshot changed under us: the stored
    generation/etag no longer matches the backing object (reference
    fails such reads via GenerationMatch conditions, remote/gcs.go:302-331,
    and If-Match, remote/http.go:24)."""


class BlockHashMismatchError(CatalogError):
    """A fetched block's content hash differs from the bid it was asked
    for (corrupted or tampered remote); the bytes are never returned."""
