"""Pipeline lifecycle: create / stop / resume / edit / terminate.

Parity with the reference's pipeline-management API
(glassflow-api/internal/service/pipeline.go:108-156 create,
426-590 stop/resume/edit-as-stop-reconfigure-resume). In Spark terms a
running pipeline is a StreamingQuery + its checkpoint directory:

- stop   -> graceful ``query.stop()``; state persists in the checkpoint;
- resume -> restart from the same checkpoint (offsets + state resume —
  the at-least-once story the reference builds from ack choreography);
- edit   -> stop, swap the spec, restart. Spark requires the new plan
  to be state-compatible with the checkpoint; incompatible edits get a
  fresh checkpoint and drop the old one (documented: the reference
  replays from Kafka offsets in the same situation);
- terminate -> stop + drop the checkpoint.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

from ..spec.model import PipelineSpec
from .runner import StreamingPipeline


def _await_healthy(queries, timeout_s: float = 30.0) -> None:
    """Block until every query a (re)start launched — the main query and
    each DLQ query — makes progress, terminates cleanly (bounded
    triggers), or fails, raising the first failure. Without this, a
    restart that dies in its first micro-batch (a state-incompatible
    edit, a stranded offset log) reports success and dies in the
    background."""
    import time

    pending = list(queries)
    deadline = time.monotonic() + timeout_s
    while pending and time.monotonic() < deadline:
        for q in list(pending):
            active = q.isActive  # read before exception(): no race
            if q.exception() is not None:
                raise q.exception()
            if q.recentProgress or not active:
                pending.remove(q)
        if pending:
            time.sleep(0.25)


def _fresh_checkpoint_dir(current: str) -> str:
    """Next unused '<dir>-editN' sibling of the current checkpoint,
    probed through its Hadoop FileSystem as terminate deletes it."""
    from ..dataops.util import path_exists  # see DLQWriter.purge

    spark = SparkSession.active()
    base = current.rstrip("/")
    n = 1
    while path_exists(spark, f"{base}-edit{n}"):
        n += 1
    return f"{base}-edit{n}"


@dataclass
class RunningPipeline:
    spec: PipelineSpec
    checkpoint_dir: str
    query: object  # StreamingQuery
    start_args: dict  # StreamingPipeline.start keyword arguments
    dlq_queries: list = field(default_factory=list)

    @property
    def running(self) -> bool:
        """Only while every query, the DLQ ones too, is active."""
        return all(q.isActive for q in (self.query, *self.dlq_queries))


@dataclass
class PipelineManager:
    """In-process catalog of running pipelines (the reference keeps this
    in Postgres + an orchestrator; one Spark application holds its own)."""

    pipelines: dict[str, RunningPipeline] = field(default_factory=dict)

    def create(
        self,
        spark: SparkSession,
        spec: PipelineSpec,
        checkpoint_dir: str,
        sources: dict[str, DataFrame],
        ts_cols: dict[str, str],
        sink_fn: Callable[[DataFrame, int], None],
        trigger: Optional[dict] = None,
        dlq_writer=None,
    ) -> RunningPipeline:
        if spec.pipeline_id in self.pipelines:
            raise ValueError(f"pipeline {spec.pipeline_id!r} already exists")
        rp = RunningPipeline(
            spec=spec,
            checkpoint_dir=checkpoint_dir,
            query=None,
            start_args={
                "sources": sources, "ts_cols": ts_cols, "sink_fn": sink_fn,
                "trigger": trigger, "dlq_writer": dlq_writer,
            },
        )
        self._start(spark, rp)
        self.pipelines[spec.pipeline_id] = rp
        return rp

    def stop(self, pipeline_id: str) -> None:
        """Stop the main query and the pipeline's DLQ queries."""
        rp = self._get(pipeline_id)
        for q in (rp.query, *rp.dlq_queries):
            if q.isActive:
                q.stop()
                q.awaitTermination(60)

    def resume(self, spark: SparkSession, pipeline_id: str) -> RunningPipeline:
        """Restart every query from the checkpoint and wait until each
        is healthy; a restart that dies raises, with the pipeline's
        surviving queries stopped."""
        rp = self._get(pipeline_id)
        if rp.running:
            return rp
        self.stop(pipeline_id)  # any query may outlive the others
        self._start(spark, rp)
        try:
            _await_healthy((rp.query, *rp.dlq_queries))
        except Exception:
            self.stop(pipeline_id)
            raise
        return rp

    @staticmethod
    def _start(spark: SparkSession, rp: RunningPipeline) -> None:
        runner = StreamingPipeline(spec=rp.spec, checkpoint_dir=rp.checkpoint_dir)
        rp.query = runner.start(spark, **rp.start_args)
        rp.dlq_queries = runner.dlq_queries

    def edit(
        self, spark: SparkSession, pipeline_id: str, new_spec: PipelineSpec
    ) -> RunningPipeline:
        """stop -> reconfigure -> resume (service/pipeline.go:426-590).

        A state-incompatible edit (e.g. adding/removing a stateful
        operator) makes the resumed query fail against the old
        checkpoint — Spark surfaces that asynchronously in the first
        micro-batch. edit() waits for the restarted query to become
        healthy; on failure it rotates to a fresh checkpoint directory,
        deletes the old one and restarts (the analog of the reference
        replaying from Kafka offsets after a reconfigure: at-least-once,
        state rebuilt). Nothing can resume the old checkpoint under the
        new spec, and a later create() on its path must not inherit its
        offsets and state."""
        self.stop(pipeline_id)
        rp = self._get(pipeline_id)
        rp.spec = new_spec
        try:
            return self.resume(spark, pipeline_id)
        except Exception:  # noqa: BLE001 — any restart failure rotates
            from ..dataops.util import delete_path

            old = rp.checkpoint_dir
            rp.checkpoint_dir = _fresh_checkpoint_dir(old)
            delete_path(spark, old)
            return self.resume(spark, pipeline_id)

    def terminate(self, pipeline_id: str) -> None:
        from ..dataops.util import delete_path  # see DLQWriter.purge

        self.stop(pipeline_id)
        rp = self.pipelines.pop(pipeline_id)
        delete_path(SparkSession.active(), rp.checkpoint_dir)

    def status(self) -> dict[str, str]:
        return {
            pid: ("running" if rp.running else "stopped")
            for pid, rp in self.pipelines.items()
        }

    def _get(self, pipeline_id: str) -> RunningPipeline:
        if pipeline_id not in self.pipelines:
            raise KeyError(f"unknown pipeline {pipeline_id!r}")
        return self.pipelines[pipeline_id]
