"""The gate scaffold: the one owner of a gate's scratch state.

A gate that needs scratch state (TxTable directories, streaming
checkpoints, memory-sink views) is written as
``fn(spark, sf_dir, scratch)`` and decorated with :func:`gate`, which
keeps the registry's ``(spark, sf_dir) -> DataFrame`` signature.

Contract: the decorated ``fn()`` returns a fully materialized relation
that owns no scratch state.  The scaffold runs one eager
``localCheckpoint`` on the body's result; then, in a
``finally`` (so also when the body raises), it drops every memory-sink
view the body's drains registered and removes the scratch directory.
A body never checkpoints "before cleanup" itself: an eager checkpoint
left in a body is a perf or semantic choice.
"""

from __future__ import annotations

import functools
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


class Scratch:
    """``dir``: a fresh directory named after the gate; ``drain``: run
    an availableNow query to completion, checkpointed under ``dir``."""

    def __init__(self, gate_name: str) -> None:
        self.dir = tempfile.mkdtemp(prefix=gate_name + "_")
        self._views: list[str] = []
        self._drains = 0

    def drain(
        self,
        stream_df: DataFrame,
        foreach_batch: Callable[[DataFrame, int], None] | None = None,
        output_mode: str | None = None,
        checkpoint: str | None = None,
    ) -> DataFrame | None:
        """Without ``foreach_batch`` the rows land in a memory sink
        whose table is returned under a generated view name; with it,
        each micro-batch goes to ``foreach_batch`` and None is returned.
        ``checkpoint`` names the checkpoint directory under ``dir``: a
        drain that resumes an earlier one passes the same name; by
        default every drain gets its own."""
        from ..streaming.ingest import run_available_now

        self._drains += 1
        ckpt = os.path.join(self.dir, checkpoint or f"_ckpt{self._drains}")
        if foreach_batch is not None:
            return run_available_now(
                stream_df, foreach_batch, checkpoint_dir=ckpt
            )
        view = f"{os.path.basename(self.dir)}_{self._drains}"
        self._views.append(view)
        return run_available_now(stream_df, view, output_mode, ckpt)


def gate(
    fn: Callable[[SparkSession, str, Scratch], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    @functools.wraps(fn)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        scratch = Scratch(fn.__name__)
        try:
            return fn(spark, sf_dir, scratch).localCheckpoint(eager=True)
        finally:
            for view in scratch._views:
                spark.catalog.dropTempView(view)
            shutil.rmtree(scratch.dir, ignore_errors=True)

    return run
