from .resume import CheckpointManifest, run_resumable

__all__ = ["CheckpointManifest", "run_resumable"]
