from .snapshot import SnapshotConflictError, SnapshotTable

__all__ = ["SnapshotConflictError", "SnapshotTable"]
