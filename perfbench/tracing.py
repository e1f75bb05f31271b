"""Traced-run instrumentation, recorded from the benchmark's side only.

* ``Tracer`` keeps spans (id, name, start, end, parent) in memory and
  writes them out when the run ends.
* ``instrument`` wraps ``StageManifest.run_stage``, ``input_fingerprint``
  and ``DataFrameWriter.parquet`` for the length of a ``with`` block.  Each
  pipeline stage becomes a ``stage:<name>`` span and a Spark job group of
  the same name; everything after the stage's parquet write (readback +
  ``partition_stats`` collect + manifest commit) becomes a ``lineage``
  child span and the job group ``<name>:lineage``.
* ``eventlog_summary`` attributes the Spark event log's jobs, tasks,
  shuffle, spill and GC to those job groups.
* ``kernel_rates`` times the extraction kernels single-core on the
  workload's own sentences; ``count_candidates`` counts candidates exactly.
"""

from __future__ import annotations

import collections
import contextlib
import json
import time

import numpy as np
from pyspark.sql import DataFrameWriter

from text2nkg_spark.candidates import enumerate_triples
from text2nkg_spark.datagen import gen_turn
from text2nkg_spark.decode_core import decode_sentences_batch
from text2nkg_spark.operators.extraction import stable_doc_id
from text2nkg_spark.plans import manifest
from text2nkg_spark.scoring_core import hash_logits_batch, log_softmax


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._open: list[int] = []

    def _new(self, name: str, start: float, end: float | None) -> dict:
        rec = {"id": len(self.spans), "name": name, "start": start,
               "end": end, "parent": self._open[-1] if self._open else None}
        self.spans.append(rec)
        return rec

    @contextlib.contextmanager
    def span(self, name: str):
        rec = self._new(name, time.time(), None)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            self._open.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float) -> None:
        """A finished child of the innermost open span."""
        self._new(name, start, end)

    def self_times(self) -> dict[int, float]:
        """Span duration minus the time its (sequential) children cover."""
        covered: dict[int, float] = collections.defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                covered[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - covered[s["id"]]
                for s in self.spans}


@contextlib.contextmanager
def instrument(tracer: Tracer, sc):
    """Yields the set of job groups the wrapped calls used."""
    run_stage = manifest.StageManifest.run_stage
    fingerprint = manifest.input_fingerprint
    write_parquet = DataFrameWriter.parquet
    current = {"stage": None, "write_end": None}
    groups: set[str] = set()

    def set_group(name: str) -> None:
        groups.add(name)
        sc.setJobGroup(name, name)

    def traced_run_stage(self, spark, stage, *args, **kwargs):
        current.update(stage=stage, write_end=None)
        set_group(stage)
        try:
            with tracer.span(f"stage:{stage}"):
                try:
                    return run_stage(self, spark, stage, *args, **kwargs)
                finally:
                    if current["write_end"] is not None:
                        tracer.add("lineage", current["write_end"],
                                   time.time())
        finally:
            current["stage"] = None
            sc.setLocalProperty("spark.jobGroup.id", None)

    def traced_write(self, *args, **kwargs):
        out = write_parquet(self, *args, **kwargs)
        if current["stage"] is not None:
            current["write_end"] = time.time()
            set_group(f"{current['stage']}:lineage")
        return out

    def traced_fingerprint(*args, **kwargs):
        set_group("fingerprint")
        try:
            with tracer.span("fingerprint"):
                return fingerprint(*args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    manifest.StageManifest.run_stage = traced_run_stage
    manifest.input_fingerprint = traced_fingerprint
    DataFrameWriter.parquet = traced_write
    try:
        yield groups
    finally:
        manifest.StageManifest.run_stage = run_stage
        manifest.input_fingerprint = fingerprint
        DataFrameWriter.parquet = write_parquet


def eventlog_summary(path: str) -> dict[str, dict]:
    """Per job group: jobs, task times, shuffle/spill MiB, GC seconds."""
    stage_group: dict[int, str | None] = {}
    groups: dict = collections.defaultdict(lambda: {
        "jobs": 0, "task_ms": [], "shuffle_write_mb": 0.0,
        "shuffle_read_mb": 0.0, "spill_mb": 0.0, "gc_s": 0.0})
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = group
                groups[group]["jobs"] += 1
            elif kind == "SparkListenerTaskEnd":
                g = groups[stage_group.get(ev["Stage ID"])]
                info = ev["Task Info"]
                g["task_ms"].append(info["Finish Time"] - info["Launch Time"])
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                g["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                g["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                         + sr.get("Local Bytes Read", 0)) / 2**20
                g["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
                g["gc_s"] += m.get("JVM GC Time", 0) / 1000
    return dict(groups)


def workload_sentences(gen_cfg, max_candidates: int | None = None) -> list:
    """(doc_id, turn_idx, entity spans) of the workload's annotated turns,
    in input order; stops once ``max_candidates`` E^3 candidates are in."""
    out, n = [], 0
    for c in range(gen_cfg.n_convs):
        for t in range(gen_cfg.turns_per_conv):
            d = gen_turn(gen_cfg, c, t)
            if d["mentions"]:
                ents = np.asarray(d["mentions"], dtype=np.int64)
                out.append((stable_doc_id(d["conv_id"]), t, ents))
                n += len(ents) ** 3
        if max_candidates is not None and n >= max_candidates:
            break
    return out


def count_candidates(sents: list, cfg) -> int:
    return sum(enumerate_triples(e, cfg.max_seq_length).shape[0]
               for _, _, e in sents)


def _rate(fn, n: int, min_s: float) -> float:
    fn()  # first call fills per-shape caches
    reps, t0 = 0, time.perf_counter()
    while True:
        fn()
        reps += 1
        el = time.perf_counter() - t0
        if el >= min_s:
            return reps * n / el


def kernel_rates(sents: list, cfg, space, min_s: float = 0.5) -> dict:
    """Single-core candidates/s of the three extraction kernels, called the
    way the fused UDF calls them on one Arrow batch."""
    cands = [enumerate_triples(e, cfg.max_seq_length) for _, _, e in sents]
    n = sum(c.shape[0] for c in cands)
    triples = np.concatenate([c[:, 4:10] for c in cands])
    docs = np.concatenate([np.full(c.shape[0], d, dtype=np.int64)
                           for c, (d, _, _) in zip(cands, sents)])
    turns = np.concatenate([np.full(c.shape[0], t, dtype=np.int64)
                            for c, (_, t, _) in zip(cands, sents)])
    c = space.num_classes

    def score():
        return (log_softmax(hash_logits_batch(
                    docs, turns, triples, c, cfg.hash_seed, 0)),
                log_softmax(hash_logits_batch(
                    docs, turns, triples, c, cfg.hash_seed, 1)))

    rel, qual = score()
    bounds = np.cumsum([0] + [c_.shape[0] for c_ in cands])
    items = [(e, cand, int(lo), int(hi)) for (_, _, e), cand, lo, hi
             in zip(sents, cands, bounds[:-1], bounds[1:])]
    return {
        "candidates.enumerate_per_s": _rate(
            lambda: [enumerate_triples(e, cfg.max_seq_length)
                     for _, _, e in sents], n, min_s),
        "scoring_core.score_per_s": _rate(score, n, min_s),
        "decode_core.decode_per_s": _rate(
            lambda: decode_sentences_batch(items, rel, qual, space), n,
            min_s),
    }
