"""Benchmark workloads: input shapes and seeded input staging.

A workload names the path it measures end to end — the checkpointed batch
job (``plans.pipeline.run_pipeline``, the body of ``jobs/run_extraction.py``)
or the streaming ingest path (``streaming.ingest``) — and the input shape
it runs that path on.  The traced run of every workload runs both paths,
so every per-layer metric exists on every workload (see README.md).

Inputs are produced with the repository's own generator
(``text2nkg_spark.datagen``) on the driver and written as plain parquet
files before any timing starts, so the program under test only ever
receives files.
"""

from __future__ import annotations

import dataclasses
import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from text2nkg_spark.config import DataGenConfig
from text2nkg_spark.datagen import gen_transcripts_pdf, gen_turn


@dataclasses.dataclass(frozen=True)
class Workload:
    name: str
    # "batch": run_pipeline builds + resumes; "stream": availableNow drains
    # of the staged files + restarts from the checkpoint
    path: str
    n_convs: int
    turns_per_conv: int
    # files of the stream layout; streaming.ingest reads 8 per micro-batch
    stream_files: int

    @property
    def turns(self) -> int:
        return self.n_convs * self.turns_per_conv

    def gen_config(self, seed: int) -> DataGenConfig:
        return DataGenConfig(n_convs=self.n_convs,
                             turns_per_conv=self.turns_per_conv, seed=seed)


# Both use the generator's default turn shape (2 % mention-dense turns,
# vocabulary ~ one surface per conversation, well under canonicalize's
# 5000-surface driver-side threshold).  Sizes are set by the run budget:
# a kg_build run takes ~50-70 s on a 4-core host, of which ~20 s set-up and
# ~20-35 s the build.
WORKLOADS = {
    w.name: w for w in (
        Workload("kg_build", "batch", n_convs=250, turns_per_conv=8,
                 stream_files=32),
        Workload("stream_ingest", "stream", n_convs=256, turns_per_conv=8,
                 stream_files=32),
    )
}

# the fixed input the batch set-up spawns the Python workers on
WARM = Workload("warm", "", n_convs=8, turns_per_conv=8, stream_files=8)


# the transcript contract (streaming.ingest.TRANSCRIPT_SCHEMA) in Arrow
# terms: explicit so a file whose ``tool`` cells are all None still types
# as string, and microsecond timestamps because Spark rejects nanos
_ARROW_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()),
    ("role", pa.string()), ("text", pa.string()), ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC"))])


def _write(pdf, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(
        pdf, schema=_ARROW_SCHEMA, preserve_index=False), path)


def stage_inputs(wl: Workload, seed: int, root: str,
                 late_files: int = 0) -> dict:
    """Write the workload's turns twice: as ``nproc`` files for the batch
    job and as ``wl.stream_files`` small files (whole conversations, in
    order) for the stream drain.  ``late_files`` more stream files of the
    same size, of conversations generated past ``wl.n_convs``, are written
    aside for the stream restarts.  Same seed -> byte-identical content.

    Returns the ``batch`` and ``stream`` directories, the ``base`` files
    staged in ``stream`` and the ``late`` files, in order."""
    per = -(-wl.n_convs // wl.stream_files) * wl.turns_per_conv
    cfg = wl.gen_config(seed)
    pdf = gen_transcripts_pdf(cfg)
    if late_files:
        # same config, so the first n_convs conversations stay the ones
        # the output checks regenerate
        late_convs = range(wl.n_convs,
                           wl.n_convs + late_files * per // wl.turns_per_conv)
        pdf = pd.concat([pdf, pd.DataFrame(
            [gen_turn(cfg, c, t) for c in late_convs
             for t in range(wl.turns_per_conv)])[pdf.columns]],
            ignore_index=True)
    paths = {"batch": os.path.join(root, "batch_in"),
             "stream": os.path.join(root, "stream_in"), "base": [],
             "late": []}
    os.makedirs(paths["stream"])
    os.makedirs(os.path.join(root, "late_in"))
    for i, lo in enumerate(range(0, len(pdf), per)):
        if lo < wl.turns:
            out = os.path.join(paths["stream"], f"part-{i:05d}.parquet")
            paths["base"].append(out)
        else:
            out = os.path.join(root, "late_in", f"part-{i:05d}.parquet")
            paths["late"].append(out)
        _write(pdf.iloc[lo:lo + per], out)
    os.makedirs(paths["batch"])
    n_batch = len(os.sched_getaffinity(0))
    per = -(-wl.n_convs // n_batch) * wl.turns_per_conv
    for i, lo in enumerate(range(0, wl.turns, per)):
        _write(pdf.iloc[lo:min(lo + per, wl.turns)], os.path.join(
            paths["batch"], f"part-{i:05d}.parquet"))
    return paths
