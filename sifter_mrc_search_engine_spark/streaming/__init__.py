from .incremental import commit_segment, stream_build_index

__all__ = ["stream_build_index", "commit_segment"]
