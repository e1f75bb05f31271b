"""Deterministic synthetic transcript generator (FIXTURES.md §1).

Produces the driver-mandated input table
``(conv_id:string, turn_idx:int, role:string, text:string, tool:string,
ts:timestamp)`` plus a gold annotation table for evaluation.  Generation is
keyed per (seed, conv, turn) through numpy ``SeedSequence`` so any partitioning
of the generation job yields identical data — the generator scales out via
``mapInPandas`` over ``spark.range`` without a determinism loss.

Mention surfaces are tokens prefixed ``ent`` (e.g. ``ent17a ent17b``), always
separated by at least one filler token, so the pipeline's mention detector
(operators/mentions.py) can find them with pure declarative SQL — the gold
mention spans are never fed to the pipeline.
"""

from __future__ import annotations

import datetime as _dt

import numpy as np
import pandas as pd

from text2nkg_spark.config import DataGenConfig
from text2nkg_spark.labels import make_synthetic_labels

_FILLERS = (
    "the a so ok and then we ran it fast query plan join scan table result "
    "check step tool call answer user said next turn done look at this first"
).split()

_ROLES = ("user", "assistant", "tool")
_EPOCH = _dt.datetime(2026, 1, 1, tzinfo=_dt.timezone.utc)


def entity_surface(uid: int) -> list[str]:
    """Deterministic 1- or 2-token surface for entity ``uid``."""
    if uid % 2 == 1:
        return [f"ent{uid}a", f"ent{uid}b"]
    return [f"ent{uid}a"]


def gen_turn(cfg: DataGenConfig, conv_num: int, turn_idx: int) -> dict:
    """One turn: text + gold mentions/relations. Pure function of its key."""
    rng = np.random.default_rng((cfg.seed, conv_num, turn_idx))
    rels, quals = make_synthetic_labels(cfg.n_rel_labels, cfg.n_qual_labels)
    pool = max(50, cfg.n_convs)

    annotated = rng.random() < 0.7
    tokens: list[str] = []
    mentions: list[tuple[int, int]] = []
    relations: list[tuple[int, int, int, int, str, list[tuple[int, int, str]]]] = []

    if annotated:
        dense = rng.random() < cfg.mention_density_skew
        n_m = cfg.dense_mentions if dense else int(rng.integers(3, 7))
        uids = rng.integers(0, pool, n_m)
        for i in range(n_m):
            n_fill = int(rng.integers(1, 4))
            tokens.extend(rng.choice(_FILLERS, n_fill).tolist())
            surf = entity_surface(int(uids[i]))
            start = len(tokens)
            tokens.extend(surf)
            mentions.append((start, len(tokens) - 1))  # inclusive end
        tokens.extend(rng.choice(_FILLERS, int(rng.integers(1, 4))).tolist())

        n_r = int(rng.integers(1, 4))
        used_ht: set[tuple[int, int]] = set()
        # the reference decode emits at most ONE fact per unordered span
        # triple (visited-set semantics, run_re.py:1299-1386), so planted
        # relations must not share an unordered (h, t, q) mention triple or
        # recall vs gold is capped below 1 by construction
        used_triples: set[frozenset[int]] = set()
        for _ in range(n_r):
            n_q = int(rng.integers(1, min(3, n_m - 2) + 1))
            idx = rng.choice(n_m, size=2 + n_q, replace=False)
            h, t = int(idx[0]), int(idx[1])
            if (h, t) in used_ht or (t, h) in used_ht:
                continue
            triples = {frozenset((h, t, int(q))) for q in idx[2:]}
            if any(tr in used_triples for tr in triples):
                continue
            used_ht.add((h, t))
            used_triples.update(triples)
            rel = rels[int(rng.integers(len(rels)))]
            qlist = []
            for qi in idx[2:]:
                qlab = quals[int(rng.integers(len(quals)))]
                qs, qe = mentions[int(qi)]
                qlist.append((qs, qe, qlab))
            hs, he = mentions[h]
            ts_, te = mentions[t]
            relations.append((hs, he, ts_, te, rel, qlist))
    else:
        n_fill = int(rng.integers(5, 40))
        tokens.extend(rng.choice(_FILLERS, n_fill).tolist())

    role = _ROLES[turn_idx % 3]
    return {
        "conv_id": f"conv{conv_num:08d}",
        "turn_idx": turn_idx,
        "role": role,
        "text": " ".join(tokens),
        "tool": "search" if role == "tool" else None,
        "ts": _EPOCH + _dt.timedelta(seconds=conv_num * 3600 + turn_idx * 60),
        "mentions": mentions,
        "relations": relations,
    }


def gen_transcripts_pdf(cfg: DataGenConfig) -> pd.DataFrame:
    """Local (driver-side) generation — test scale."""
    rows = [
        gen_turn(cfg, c, t)
        for c in range(cfg.n_convs)
        for t in range(cfg.turns_per_conv)
    ]
    pdf = pd.DataFrame(rows)
    return pdf[["conv_id", "turn_idx", "role", "text", "tool", "ts"]]


def gen_gold_pdf(cfg: DataGenConfig) -> pd.DataFrame:
    """Gold annotations keyed (conv_id, turn_idx): mentions + relations."""
    rows = []
    for c in range(cfg.n_convs):
        for t in range(cfg.turns_per_conv):
            d = gen_turn(cfg, c, t)
            rows.append(
                {
                    "conv_id": d["conv_id"],
                    "turn_idx": d["turn_idx"],
                    "mentions": [
                        {"start": s, "end": e} for s, e in d["mentions"]
                    ],
                    "relations": [
                        {
                            "h_s": hs, "h_e": he, "t_s": ts_, "t_e": te,
                            "rel": rel,
                            "quals": [
                                {"q_s": qs, "q_e": qe, "label": ql}
                                for qs, qe, ql in qlist
                            ],
                        }
                        for hs, he, ts_, te, rel, qlist in d["relations"]
                    ],
                }
            )
    return pd.DataFrame(rows)


def gen_transcripts_df(spark, cfg: DataGenConfig, partitions: int | None = None):
    """Distributed generation: spark.range over (conv, turn) -> mapInPandas.

    Deterministic under any partitioning (per-key seeding); this is the
    pattern that scales the generator to arbitrarily many turns.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        IntegerType, StringType, StructField, StructType, TimestampType)

    schema = StructType(
        [
            StructField("conv_id", StringType()),
            StructField("turn_idx", IntegerType()),
            StructField("role", StringType()),
            StructField("text", StringType()),
            StructField("tool", StringType()),
            StructField("ts", TimestampType()),
        ]
    )

    n = cfg.n_convs * cfg.turns_per_conv
    base = spark.range(0, n, 1, partitions or spark.sparkContext.defaultParallelism)
    base = base.withColumn("conv_num", (F.col("id") / cfg.turns_per_conv).cast("long"))
    base = base.withColumn("turn_idx", (F.col("id") % cfg.turns_per_conv).cast("int"))

    def gen(batches):
        for pdf in batches:
            out = [
                {
                    k: v
                    for k, v in gen_turn(cfg, int(c), int(t)).items()
                    if k not in ("mentions", "relations")
                }
                for c, t in zip(pdf["conv_num"], pdf["turn_idx"])
            ]
            yield pd.DataFrame(out)[
                ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
            ]

    return base.mapInPandas(gen, schema)
