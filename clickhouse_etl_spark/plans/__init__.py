"""plans — assemble a PipelineSpec into one DataFrame, batch or streaming."""

from .compiler import build_pipeline, source_chain

__all__ = ["build_pipeline", "source_chain"]
