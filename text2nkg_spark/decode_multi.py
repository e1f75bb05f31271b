"""Decode for the event / role / hypergraph n-ary schemas
(run_re.py:1519-1751, 1764-1975, 1979-2174) on decode_core's pipeline:
``_scatter`` -> ``_ensemble`` -> ``_anchors`` -> argmax at the anchors ->
schema mask -> ``_nms`` -> project.

Unlike hyperrelation, these schemas have separate (non-bidirectional)
relation and qualifier label spaces and no half-block swaps; the 6-way
ensemble instead SHUFFLES the per-mention heads (q = m3's label head,
qb = m1's, qc = m2's) so each head follows its mention through the
permutation — that shuffle is each schema's ``_ensemble`` table.  Faithful
quirks preserved:

* event/role selection tests ``qb_pred`` for truthiness, not > 0
  (run_re.py:1637, 1870);
* hypergraph computes q_pred = argmax(v) — reading v twice
  (run_re.py:2120-2121);
* the event 'Trigger' NER fixup is a no-op (``==`` instead of ``=``,
  run_re.py:1720-1725) and is therefore not applied.

Engine results are asserted bit-identical to the dict-based oracle
transcriptions in reference_oracle.py.
"""

from __future__ import annotations

from itertools import permutations

import numpy as np

from text2nkg_spark.decode_core import _anchors, _ensemble, _nms, _scatter

# per-schema _ensemble tables: for each of the 5 non-base orderings (k213,
# k132, k231, k312, k321 — in the reference's addition order), which
# source head feeds each target head; no half-swaps.  heads are named v,
# q, qb, qc.  Head widths differ per schema (event: v is relation-space,
# q/qb/qc are qualifier-space), but every shuffle mixes same-width heads.
_TABLES = {
    "event": (
        ("jik", {"v": "v", "q": "q", "qb": "qc", "qc": "qb"}, ()),
        ("ikj", {"v": "v", "q": "qc", "qb": "qb", "qc": "q"}, ()),
        ("jki", {"v": "v", "q": "qb", "qb": "qc", "qc": "q"}, ()),
        ("kij", {"v": "v", "q": "qc", "qb": "q", "qc": "qb"}, ()),
        ("kji", {"v": "v", "q": "qb", "qb": "q", "qc": "qc"}, ()),
    ),
    "role": (
        ("jik", {"v": "qb", "q": "q", "qb": "v"}, ()),
        ("ikj", {"v": "q", "q": "v", "qb": "qb"}, ()),
        ("jki", {"v": "qb", "q": "v", "qb": "q"}, ()),
        ("kij", {"v": "qb", "q": "v", "qb": "q"}, ()),
        ("kji", {"v": "v", "q": "q", "qb": "qb"}, ()),
    ),
    "hypergraph": tuple(
        (o, {"v": "v", "q": "q"}, ())
        for o in ("jik", "ikj", "jki", "kij", "kji")),
}
# trailing labels past (pred, q_pred) that NMS also compares: event keeps
# (qb, qc), role keeps qb
_N_EXTRA = {"event": 2, "role": 1, "hypergraph": 0}


def decode_sentence_multi(
    schema: str,
    entities: np.ndarray,      # (E, 2) spans, sentence order
    cand: np.ndarray,          # (N, 10) enumeration order
    heads: dict,               # name -> (N, C) float64 logits
    label_list: list[str],     # NIL + relation names
    q_label_list: list[str],   # NIL + qualifier/role names
    same_entity: bool = False,
) -> list[tuple]:
    """Returns schema-shaped output_preds (see reference_oracle).  A
    triple missing one of its orderings raises ``MissingOrderingError``
    (a ``ValueError``), as the reference asserts."""
    e = entities.shape[0]
    if e == 0 or cand.shape[0] == 0:
        return []
    dense, present = _scatter([(entities, cand, 0, cand.shape[0])], heads, e)
    ens = _ensemble(dense, _TABLES[schema])
    b, ii, jj, kk = _anchors(present, entities[None], same_entity, strict=True)
    at = {name: t[b, ii, jj, kk] for name, t in ens.items()}
    arg = {name: np.argmax(x, axis=-1) for name, x in at.items()}

    pred = arg["v"]
    q_pred = pred if schema == "hypergraph" else arg["q"]
    keep = pred > 0
    extras: tuple = ()
    if schema != "hypergraph":
        keep &= (q_pred > 0) & (arg["qb"] != 0)  # qb: truthiness
        extras = (arg["qb"],)
    if schema == "event":
        keep &= arg["qc"] > 0
        extras += (arg["qc"],)

    spans = [tuple(int(x) for x in row) for row in entities]
    kept = _nms([
        (float(at["v"][w, pred[w]]), spans[ii[w]], spans[jj[w]], int(pred[w]),
         float(at["q"][w, q_pred[w]]), spans[kk[w]], int(q_pred[w]),
         *(int(x[w]) for x in extras))
        for w in np.nonzero(keep)[0]
    ], _N_EXTRA[schema])

    out = []
    for it in kept:
        m1, m2, pred, m3, q_pred = it[1], it[2], it[3], it[5], it[6]
        if schema == "event":
            out.append(
                (label_list[pred], (m1, q_label_list[it[7]]),
                 (m2, q_label_list[it[8]]), (m3, q_label_list[q_pred])))
        elif schema == "role":
            out.append(
                ((m1, q_label_list[it[7]]), (m2, q_label_list[pred]),
                 (m3, q_label_list[q_pred])))
        else:
            out.append((label_list[pred], m1, m2, m3))
    return out


def gold_orderings_multi(
    schema: str,
    relations: list[dict],
    label_map: dict[str, int],
    q_label_map: dict[str, int],
) -> dict:
    """C1 gold index for the non-hyperrelation schemas (run_re.py:366-463).

    For each ordered arrangement of (h, t, q) the tuple holds the labels the
    scorer should place: v = relation (event/hypergraph) or m2's role
    (role schema); q/qb/qc = the label of the mention in the m3/m1/m2 slot
    (role_h / role_t / qualifier label; relation name for hypergraph).
    """
    out: dict = {}
    for x in relations:
        h = (x["h_s"], x["h_e"])
        t = (x["t_s"], x["t_e"])
        for q in x["quals"]:
            qs = (q["q_s"], q["q_e"])
            if schema == "hypergraph":
                lab = {h: label_map[x["rel"]], t: label_map[x["rel"]],
                       qs: label_map[x["rel"]]}
            elif schema == "event":
                lab = {h: q_label_map[x["role_h"]],
                       t: q_label_map[x["role_t"]],
                       qs: q_label_map[q["label"]]}
            else:  # role
                lab = {h: q_label_map[x["role_h"]],
                       t: q_label_map[x["rel"]],
                       qs: q_label_map[q["label"]]}
            for m1, m2, m3 in permutations((h, t, qs), 3):
                key = m1 + m2 + m3
                if schema == "event":
                    out[key] = (label_map[x["rel"]], lab[m3], lab[m1], lab[m2])
                elif schema == "role":
                    out[key] = (lab[m2], lab[m3], lab[m1])
                else:
                    out[key] = (label_map[x["rel"]], label_map[x["rel"]])
    return out
