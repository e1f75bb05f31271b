"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship NKG extraction over transcripts derived from the
sf0.001 documents table (dictionary mention detection -> hash-scored span
triples -> 6-permutation ensemble decode -> facts).

``queries()`` — one entry per implemented operator family (SURVEY.md §2 +
training-data ops); each callable takes (spark, sf_dir) and returns a
DataFrame.  ``oracle_sql()`` holds DuckDB-equivalent SQL for every
SQL-expressible query; the model-scored extraction stages and LSH/simhash
pair generation (xxhash64-based) are rows-only checks backed by exact pytest
oracles instead (tests/).

Float-stability policy for oracle parity: money aggregates run in DECIMAL
(exact in both engines), ratios divide identical integers, means are
rounded, rankings emit integer ranks.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

# mention dictionary for the public corpus (documents.parquet word vocab)
_DICT = ("spark", "join", "merge", "scan")
_DICT_SQL = "('spark', 'join', 'merge', 'scan')"

_N_CONVS = 100  # doc_id % _N_CONVS -> conv bucket for derived transcripts


def _derived_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic transcripts view over the documents table (same shape
    as BASELINE.json input_hint), reproducible in ANSI SQL."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        F.concat(F.lit("conv"), (F.col("doc_id") % _N_CONVS).cast("string")
                 ).alias("conv_id"),
        F.floor(F.col("doc_id") / _N_CONVS).cast("int").alias("turn_idx"),
        F.element_at(
            F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")),
            (F.col("doc_id") % 3 + 1).cast("int")).alias("role"),
        F.col("text"),
        F.lit(None).cast("string").alias("tool"),
        F.timestamp_seconds(F.lit(1767225600) + F.col("doc_id") * 60).alias("ts"),
    )


_TRANSCRIPTS_CTE = f"""
transcripts AS (
  SELECT 'conv' || CAST(doc_id % {_N_CONVS} AS VARCHAR) AS conv_id,
         CAST(doc_id // {_N_CONVS} AS INT) AS turn_idx,
         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'user'
              WHEN 1 THEN 'assistant' ELSE 'tool' END AS role,
         text
  FROM documents
)
"""


# gaps-and-islands mention detection over the derived transcripts — the
# DuckDB twin of operators.mentions (used by the mentions AND entities
# oracles)
_MENTIONS_CTE = f"""
{_TRANSCRIPTS_CTE},
tok AS (
  SELECT conv_id, turn_idx,
         CAST(unnest(range(len(string_split(text,' ')))) AS INT) AS pos,
         unnest(string_split(text,' ')) AS tk
  FROM transcripts),
mm AS (SELECT * FROM tok WHERE tk IN {_DICT_SQL}),
ff AS (
  SELECT conv_id, turn_idx, pos, tk,
         CASE WHEN lag(pos) OVER w IS NULL
                   OR pos - lag(pos) OVER w > 1
              THEN 1 ELSE 0 END AS new_run
  FROM mm
  WINDOW w AS (PARTITION BY conv_id, turn_idx ORDER BY pos)),
gg AS (
  SELECT *, sum(new_run) OVER
         (PARTITION BY conv_id, turn_idx ORDER BY pos) AS run_id
  FROM ff),
mentions AS (
  SELECT conv_id, turn_idx,
         CAST(min(pos) AS INT) AS start,
         CAST(max(pos) AS INT) AS "end",
         string_agg(tk, ' ' ORDER BY pos) AS surface
  FROM gg GROUP BY conv_id, turn_idx, run_id)
"""


# DuckDB twin of _gold_oracle_corpus: per doc_id, the three mention spans,
# surfaces, the (h,t,q) permutation indices, and the labels
_GOLD_CORPUS_CTE = f"""
gsrc AS (
  SELECT doc_id AS d, CAST(doc_id % 2 AS INT) AS two,
         CAST(doc_id % 6 AS INT) AS p
  FROM documents),
b AS (
  SELECT d, two,
         'conv' || CAST(d % {_N_CONVS} AS VARCHAR) AS conv_id,
         CAST(d // {_N_CONVS} AS INT) AS turn_idx,
         [[1, 1+two], [3+two, 3+two], [5+two, 5+two]] AS spans,
         ['ent' || CAST(d AS VARCHAR) || 'a'
            || CASE WHEN two = 1
                    THEN ' ent' || CAST(d AS VARCHAR) || 'b' ELSE '' END,
          'ent' || CAST(d AS VARCHAR) || 'c',
          'ent' || CAST(d AS VARCHAR) || 'd'] AS surfs,
         [0,0,1,1,2,2][p+1] AS hi,
         [1,2,0,2,0,1][p+1] AS ti,
         [2,1,2,0,1,0][p+1] AS qi,
         '[r]rel_' || CAST(d % 3 AS VARCHAR) AS rel,
         '[k]qual_' || CAST(two AS VARCHAR) AS qual
  FROM gsrc)
"""


def _dict_pred(t):
    return t.isin(*_DICT)


# --------------------------------------------------------------------------
# entry
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full NKG extraction on sf0.001-derived transcripts."""
    from text2nkg_spark.config import PipelineConfig
    from text2nkg_spark.operators.extraction import extract_facts_fused
    from text2nkg_spark.plans.pipeline import (
        default_label_space, prepare_sentences)

    tr = _derived_transcripts(spark, "/root/testdata/sf0.001")
    sents = prepare_sentences(tr, predicate=_dict_pred)
    cfg = PipelineConfig(scorer="hash")
    return extract_facts_fused(sents, cfg, default_label_space())


# --------------------------------------------------------------------------
# NKG pipeline queries
# --------------------------------------------------------------------------

def q_nkg_doc_assembly(spark, sf_dir):
    from text2nkg_spark.operators.assembly import assemble_documents

    tr = _derived_transcripts(spark, sf_dir)
    return assemble_documents(tr).select(
        "conv_id",
        F.col("n_turns").cast("long").alias("n_turns"),
        "doc_text",
    )


def q_nkg_turn_invariant(spark, sf_dir):
    from text2nkg_spark.operators.assembly import (
        assemble_documents, turn_equality_violations)

    tr = _derived_transcripts(spark, sf_dir)
    docs = assemble_documents(tr)
    v = turn_equality_violations(tr, docs).agg(
        F.count(F.lit(1)).cast("long").alias("mismatches"))
    t = tr.agg(F.count(F.lit(1)).cast("long").alias("n_turns"))
    return v.crossJoin(t)


def q_nkg_mentions(spark, sf_dir):
    from text2nkg_spark.operators.mentions import (
        detect_mentions, mention_surfaces)

    tr = _derived_transcripts(spark, sf_dir)
    det = detect_mentions(tr, predicate=_dict_pred)
    return mention_surfaces(det).select(
        "conv_id", "turn_idx",
        F.col("start").cast("int").alias("start"),
        F.col("end").cast("int").alias("end"),
        "surface",
    )


def q_nkg_extract_facts(spark, sf_dir):
    """Hash-scored extraction on derived transcripts (rows-only check;
    exact decode parity is pytest-asserted against the reference oracle)."""
    from text2nkg_spark.config import PipelineConfig
    from text2nkg_spark.operators.extraction import extract_facts_fused
    from text2nkg_spark.plans.pipeline import (
        default_label_space, prepare_sentences)

    tr = _derived_transcripts(spark, sf_dir)
    sents = prepare_sentences(tr, predicate=_dict_pred)
    return extract_facts_fused(
        sents, PipelineConfig(scorer="hash"), default_label_space())


def q_nkg_gold_pipeline(spark, sf_dir):
    """A1-A4 metrics over the gold-scored oracle corpus: the full P/R
    computation (distinct-key joins, recall denominators) must come out at
    exactly 1.0 with exact counts — the SQL oracle states the expected
    values.  (The imperfect-recall datagen corpus, where P/R < 1 by
    construction, is pytest-asserted: tests/test_pipeline_e2e.py and the
    reference dev-corpus parity suites.)"""
    from text2nkg_spark.operators.metrics import relation_qualifier_prf

    _tr, gold = _gold_oracle_corpus(spark, sf_dir)
    preds = _gold_extract_preds(spark, sf_dir)
    m = relation_qualifier_prf(preds, gold)
    return spark.createDataFrame(
        [(float(m["p"]), float(m["r"]), float(m["q_p"]), float(m["q_r"]),
          int(m["correct_q"]), int(m["num_q_ans"]))],
        "p double, r double, q_p double, q_r double, "
        "correct_q long, num_q_ans long")


def q_nkg_model_extract(spark, sf_dir):
    """Packed levitated-marker model scoring (numpy mini encoder) through
    the fused extraction path — one scorer per python worker, built lazily
    inside the UDF.  Rows-only: encoder logits aren't SQL-expressible; the
    marker/tensorization wiring is pytest-asserted against the reference's
    arithmetic (tests/test_model_scorer.py)."""
    from text2nkg_spark.config import PipelineConfig
    from text2nkg_spark.operators.extraction import extract_facts_fused
    from text2nkg_spark.plans.pipeline import (
        default_label_space, prepare_sentences)

    tr = _derived_transcripts(spark, sf_dir)
    sents = prepare_sentences(tr, predicate=_dict_pred)
    cfg = PipelineConfig(scorer="model", max_seq_length=128,
                         max_pair_length=16)
    return extract_facts_fused(sents, cfg, default_label_space())


def q_nkg_compacted(spark, sf_dir):
    """Compacted n-ary facts (G2) over the hash-scored extraction."""
    from text2nkg_spark.operators.facts import compacted_facts, fact_table

    preds = q_nkg_extract_facts(spark, sf_dir)
    return compacted_facts(fact_table(preds)).select(
        "conv_id", "turn_idx", "rel", "subj", "obj", "N", "canonical_json")


def q_nkg_entities(spark, sf_dir):
    """G4 canonicalization over detected mention surfaces (rows-only)."""
    from text2nkg_spark.operators.canonicalize import canonicalize_entities
    from text2nkg_spark.operators.mentions import (
        detect_mentions, mention_surfaces)

    tr = _derived_transcripts(spark, sf_dir)
    surf = mention_surfaces(detect_mentions(tr, predicate=_dict_pred))
    out = canonicalize_entities(surf)
    return out["entities"].select(
        "entity_id", "canonical_surface",
        F.col("n_surfaces").cast("long").alias("n_surfaces"),
        F.col("n_mentions").cast("long").alias("n_mentions"))


# --------------------------------------------------------------------------
# gold-scored extraction with an exact SQL oracle (C3 + D2-D4 + G1/G2
# end-to-end): the corpus is derived from documents.doc_id by closed-form
# arithmetic, every sentence plants exactly one gold relation over three
# disjoint mentions, and the gold scorer provably emits exactly the planted
# facts (non-gold span triples one-hot at class 0 => dropped by decode), so
# the expected output is a pure SQL reshaping of the same arithmetic.
# --------------------------------------------------------------------------

# (h, t, q) mention-index permutation per sentence (d % 6) — exercises all
# six anchor orientations of the ensemble decode
_PERM_H = (0, 0, 1, 1, 2, 2)
_PERM_T = (1, 2, 0, 2, 0, 1)
_PERM_Q = (2, 1, 2, 0, 1, 0)


def _gold_oracle_corpus(spark, sf_dir):
    """(transcripts, gold) for the oracle corpus.

    Sentence for doc_id=d: tokens ``the E0 ran E1 plan E2 done`` where
    E0 = ``ent{d}a`` (+ `` ent{d}b`` when d is odd), E1 = ``ent{d}c``,
    E2 = ``ent{d}d``.  Gold: (h,t,q) = perm(d%6) over the three mentions,
    rel = ``[r]rel_{d%3}``, qualifier label = ``[k]qual_{d%2}`` on q's span.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    d = F.col("doc_id")
    sd = d.cast("string")
    two = (d % 2).cast("int")
    e0 = F.concat(
        F.lit("ent"), sd, F.lit("a"),
        F.when(two == 1, F.concat(F.lit(" ent"), sd, F.lit("b")))
        .otherwise(F.lit("")))
    surfs = F.array(
        e0,
        F.concat(F.lit("ent"), sd, F.lit("c")),
        F.concat(F.lit("ent"), sd, F.lit("d")))
    starts = F.array(F.lit(1).cast("int"), two + 3, two + 5)
    ends = F.array((two + 1).cast("int"), two + 3, two + 5)
    p = (d % 6).cast("int")
    hi = F.element_at(F.array(*[F.lit(x) for x in _PERM_H]), p + 1)
    ti = F.element_at(F.array(*[F.lit(x) for x in _PERM_T]), p + 1)
    qi = F.element_at(F.array(*[F.lit(x) for x in _PERM_Q]), p + 1)

    def span_s(ix):
        return F.element_at(starts, ix + 1).cast("int")

    def span_e(ix):
        return F.element_at(ends, ix + 1).cast("int")

    rel = F.concat(F.lit("[r]rel_"), (d % 3).cast("string"))
    qual = F.concat(F.lit("[k]qual_"), two.cast("string"))
    relations = F.array(F.struct(
        span_s(hi).alias("h_s"), span_e(hi).alias("h_e"),
        span_s(ti).alias("t_s"), span_e(ti).alias("t_e"),
        rel.alias("rel"),
        F.array(F.struct(
            span_s(qi).alias("q_s"), span_e(qi).alias("q_e"),
            qual.alias("label"))).alias("quals")))
    base = docs.select(
        F.concat(F.lit("conv"), (d % _N_CONVS).cast("string")).alias("conv_id"),
        F.floor(d / _N_CONVS).cast("int").alias("turn_idx"),
        F.concat_ws(
            " ", F.lit("the"), e0, F.lit("ran"), F.element_at(surfs, 2),
            F.lit("plan"), F.element_at(surfs, 3), F.lit("done")).alias("text"),
        relations.alias("relations"),
    )
    return (base.select("conv_id", "turn_idx", "text"),
            base.select("conv_id", "turn_idx", "relations"))


def _gold_extract_preds(spark, sf_dir):
    from text2nkg_spark.config import PipelineConfig
    from text2nkg_spark.labels import LabelSpace, make_synthetic_labels
    from text2nkg_spark.plans.pipeline import extract

    tr, gold = _gold_oracle_corpus(spark, sf_dir)
    space = LabelSpace.build(*make_synthetic_labels(3, 2))
    return extract(tr, PipelineConfig(scorer="gold"), space, gold=gold)


def q_nkg_gold_extract(spark, sf_dir):
    """Gold-scored extraction, driver-oracle-exact end to end (mention
    detection -> C3 enumeration -> 6-perm ensemble decode D2-D4 -> G1 span
    text projection).  Scores are noise-dependent and excluded."""
    return _gold_extract_preds(spark, sf_dir).select(
        "conv_id", "turn_idx",
        F.col("pred_idx").cast("int").alias("pred_idx"),
        "m1s", "m1e", "m2s", "m2e", "rel", "m3s", "m3e", "qual",
        "subj", "obj", "value")


def q_nkg_gold_unidirect(spark, sf_dir):
    """--eval_unidirect decode over the gold corpus — GRAFT-DEFINED
    semantics for the flag at run_re.py:1291 (the reference's own
    unidirect decode branch is commented out and emits nothing; see
    decode_core.decode_sentence_unidirect): no 6-permutation ensemble —
    every candidate ordering decodes its own raw logits; direction
    normalization + NMS unchanged.
    With gold scoring the kept facts equal the ensembled extraction (all 6
    orderings normalize to the planted fact; NMS keeps one), so the oracle
    is the same doc_id arithmetic."""
    from text2nkg_spark.config import PipelineConfig
    from text2nkg_spark.labels import LabelSpace, make_synthetic_labels
    from text2nkg_spark.plans.pipeline import extract

    tr, gold = _gold_oracle_corpus(spark, sf_dir)
    space = LabelSpace.build(*make_synthetic_labels(3, 2))
    preds = extract(
        tr, PipelineConfig(scorer="gold", eval_unidirect=True), space,
        gold=gold)
    return preds.select(
        "conv_id", "turn_idx",
        F.col("pred_idx").cast("int").alias("pred_idx"),
        "m1s", "m1e", "m2s", "m2e", "rel", "m3s", "m3e", "qual",
        "subj", "obj", "value")


def q_nkg_gold_compacted(spark, sf_dir):
    """G2 compaction over the gold extraction, including the byte-exact
    canonical JSON and the sha256 fact_id — all SQL-reproducible."""
    from text2nkg_spark.operators.facts import compacted_facts, fact_table

    comp = compacted_facts(fact_table(_gold_extract_preds(spark, sf_dir)))
    return comp.select(
        "conv_id", "turn_idx", "fact_id", "rel", "subj", "obj",
        F.col("N").cast("int").alias("N"), "canonical_json")


def _gold_expected_preds(spark, sf_dir):
    """The EXPECTED extraction output, rebuilt by pure arithmetic from
    doc_id (no scorer, no decode) — the independent gold side for the
    exact-match metrics: byte-identical shape to q_nkg_gold_extract."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    d = F.col("doc_id")
    sd = d.cast("string")
    two = (d % 2).cast("int")
    surfs = F.array(
        F.concat(F.lit("ent"), sd, F.lit("a"),
                 F.when(two == 1, F.concat(F.lit(" ent"), sd, F.lit("b")))
                 .otherwise(F.lit(""))),
        F.concat(F.lit("ent"), sd, F.lit("c")),
        F.concat(F.lit("ent"), sd, F.lit("d")))
    starts = F.array(F.lit(1).cast("int"), two + 3, two + 5)
    ends = F.array((two + 1).cast("int"), two + 3, two + 5)
    p = (d % 6).cast("int")
    hi = F.element_at(F.array(*[F.lit(x) for x in _PERM_H]), p + 1)
    ti = F.element_at(F.array(*[F.lit(x) for x in _PERM_T]), p + 1)
    qi = F.element_at(F.array(*[F.lit(x) for x in _PERM_Q]), p + 1)
    return docs.select(
        F.concat(F.lit("conv"), (d % _N_CONVS).cast("string"))
        .alias("conv_id"),
        F.floor(d / _N_CONVS).cast("int").alias("turn_idx"),
        F.lit(0).cast("int").alias("pred_idx"),
        F.element_at(starts, hi + 1).cast("int").alias("m1s"),
        F.element_at(ends, hi + 1).cast("int").alias("m1e"),
        F.element_at(starts, ti + 1).cast("int").alias("m2s"),
        F.element_at(ends, ti + 1).cast("int").alias("m2e"),
        F.concat(F.lit("[r]rel_"), (d % 3).cast("string")).alias("rel"),
        F.element_at(starts, qi + 1).cast("int").alias("m3s"),
        F.element_at(ends, qi + 1).cast("int").alias("m3e"),
        F.concat(F.lit("[k]qual_"), two.cast("string")).alias("qual"),
        F.element_at(surfs, hi + 1).alias("subj"),
        F.element_at(surfs, ti + 1).alias("obj"),
        F.element_at(surfs, qi + 1).alias("value"),
    )


def q_nkg_gold_comp_match(spark, sf_dir):
    """G3/A4 — compaction-level exact-match P/R/F1 (run_re.py:2474-2505):
    the extracted-then-compacted facts joined against an INDEPENDENTLY
    arithmetic-derived gold compaction on canonical JSON.  Every count is
    exact; the oracle states p=r=f1=1 with the doc count."""
    from text2nkg_spark.operators.facts import compacted_facts, fact_table
    from text2nkg_spark.operators.metrics import compaction_exact_match

    pred_comp = compacted_facts(fact_table(_gold_extract_preds(spark, sf_dir)))
    gold_comp = compacted_facts(
        fact_table(_gold_expected_preds(spark, sf_dir)))
    m = compaction_exact_match(
        pred_comp, gold_comp.select("conv_id", "turn_idx", "canonical_json"))
    return spark.createDataFrame(
        [(float(m["p_comp"]), float(m["r_comp"]), float(m["f1_comp"]),
          int(m["correct_comp"]), int(m["num_pred_comp"]),
          int(m["num_ans_comp"]))],
        "p_comp double, r_comp double, f1_comp double, "
        "correct_comp long, num_pred_comp long, num_ans_comp long")


def q_nkg_label_vocab(spark, sf_dir):
    """P5 — label-vocab construction (hyperred_data_process.py:434-448
    layout: ['None','Entity'] + sorted quals + sorted(rels − quals)) over
    the gold corpus's relations; ids must match the closed-form oracle."""
    from text2nkg_spark.operators.ingest_raw import build_label_vocab

    _tr, gold = _gold_oracle_corpus(spark, sf_dir)
    vocab = build_label_vocab(gold.select("relations"),
                              rel_prefix="", qual_prefix="")
    qual_ids = set(vocab["qualifier"])
    rows = []
    for name, i in sorted(vocab["id"].items(), key=lambda kv: kv[1]):
        kind = ("special" if name in ("None", "Entity")
                else "qualifier" if i in qual_ids else "relation")
        rows.append((name, int(i), kind))
    return spark.createDataFrame(
        rows, "label string, label_id int, kind string")


def q_nkg_gold_compacted_conv(spark, sf_dir):
    """G2 conv-level compaction (the literal document-scope run_re.py:2400
    behavior: same-(rel,subj,obj) facts merge across a conversation's
    turns) over the gold extraction — also SQL-reproducible."""
    from text2nkg_spark.operators.facts import compacted_facts, fact_table

    comp = compacted_facts(
        fact_table(_gold_extract_preds(spark, sf_dir)), per="conv")
    return comp.select(
        "conv_id", "turn_idx", "fact_id", "rel", "subj", "obj",
        F.col("N").cast("int").alias("N"), "canonical_json")


def _q_multi_schema(schema):
    """Gold-scored extraction for the event/role/hypergraph schemas over the
    reference's FULL dev corpus (1000 docs; read-only data fixture;
    rows-only check — exact oracle parity + >=0.95 gold recovery are
    pytest-asserted).  Raises FileNotFoundError when the corpus is absent,
    so a missing fixture cannot pass as an empty result."""

    def q(spark, sf_dir):
        import os

        from text2nkg_spark.config import PipelineConfig
        from text2nkg_spark.operators.extraction_multi import (
            extract_facts_multi, labels_from_normalized)
        from text2nkg_spark.operators.normalize import (
            normalize_reference_docs, with_line_numbers)
        from text2nkg_spark.sources.io import read_reference_jsonl

        path = ("/root/reference/datasets/hyperred_processed_data/"
                f"hyperred_{schema}/dev.json")
        if not os.path.exists(path):
            raise FileNotFoundError(f"{path}: missing reference corpus")
        docs = with_line_numbers(read_reference_jsonl(spark, path))
        norm = normalize_reference_docs(docs, schema)
        labels = labels_from_normalized(norm, schema)
        return extract_facts_multi(
            norm, schema, PipelineConfig(scorer="gold"), labels)

    return q


# --------------------------------------------------------------------------
# gold-oracle corpora for the event / role / hypergraph decodes — the same
# doc_id arithmetic as _gold_oracle_corpus, but shaped like
# operators/normalize.py output so the full multi-schema decode
# (run_re.py:1519-1628 / 1764-1862 / 1979-2061) runs end to end with a
# DuckDB-exact oracle.  The full-corpus reference-dev entries above stay as
# rows-only checks; these planted corpora put the same code path under the
# driver's hash compare.
# --------------------------------------------------------------------------

# fixed label spaces for the planted corpora (deterministic — no collect):
# role merges relation labels into the qualifier space exactly as
# labels_from_normalized does (run_re.py:399-430)
_MULTI_GOLD_LABELS = {
    "event": (("evt_0", "evt_1", "evt_2"),
              ("ql_0", "ql_1", "rh_0", "rh_1", "rt_0", "rt_1", "rt_2")),
    "role": (("rb_0", "rb_1", "rb_2"),
             ("ra_0", "ra_1", "rb_0", "rb_1", "rb_2", "rc_0", "rc_1")),
    "hypergraph": (("hg_0", "hg_1", "hg_2"), ()),
}


def _gold_multi_corpus(spark, sf_dir, schema):
    """Normalized-shape gold corpus for one multi-schema decode.

    Mentions per doc_id=d: the same three spans as _gold_oracle_corpus
    ((1, 1+two), (3+two, 3+two), (5+two, 5+two), two = d%2); gold assigns
    (h, t, q) = perm(d%6) over them.  Per-schema labels:

      event       rel = evt_{d%3}, role_h = rh_{two}, role_t = rt_{d%3},
                  qualifier label = ql_{two}
      role        h role = ra_{two}, t role (the 'rel' slot,
                  run_re.py:186-196) = rb_{d%3}, q role = rc_{two}
      hypergraph  rel = hg_{d%3} duplicated onto the qualifier span
                  (run_re.py:206)
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    d = F.col("doc_id")
    two = (d % 2).cast("int")
    p = (d % 6).cast("int")
    m_starts = [F.lit(1).cast("int"), two + 3, two + 5]
    m_ends = [(two + 1).cast("int"), two + 3, two + 5]
    starts, ends = F.array(*m_starts), F.array(*m_ends)
    hi = F.element_at(F.array(*[F.lit(x) for x in _PERM_H]), p + 1)
    ti = F.element_at(F.array(*[F.lit(x) for x in _PERM_T]), p + 1)
    qi = F.element_at(F.array(*[F.lit(x) for x in _PERM_Q]), p + 1)

    def ss(ix):
        return F.element_at(starts, ix + 1).cast("int")

    def se(ix):
        return F.element_at(ends, ix + 1).cast("int")

    d3 = (d % 3).cast("string")
    s2 = two.cast("string")
    if schema == "event":
        rel = F.concat(F.lit("evt_"), d3)
        role_h = F.concat(F.lit("rh_"), s2)
        role_t = F.concat(F.lit("rt_"), d3)
        qlab = F.concat(F.lit("ql_"), s2)
    elif schema == "role":
        rel = F.concat(F.lit("rb_"), d3)  # the T mention's role slot
        role_h = F.concat(F.lit("ra_"), s2)
        role_t = F.lit(None).cast("string")
        qlab = F.concat(F.lit("rc_"), s2)
    else:  # hypergraph
        rel = F.concat(F.lit("hg_"), d3)
        role_h = rel
        role_t = F.lit(None).cast("string")
        qlab = rel
    relations = F.array(F.struct(
        ss(hi).alias("h_s"), se(hi).alias("h_e"),
        ss(ti).alias("t_s"), se(ti).alias("t_e"),
        rel.alias("rel"),
        F.array(F.struct(
            ss(qi).alias("q_s"), se(qi).alias("q_e"),
            qlab.alias("label"))).alias("quals"),
        role_h.alias("role_h"), role_t.alias("role_t")))
    # each mention's own span expressions: element_at(starts, m + 1) on a
    # literal m does not compile under whole-stage codegen (Janino "is not
    # an rvalue")
    ner = F.array(*[
        F.struct(m_starts[m].alias("start"), m_ends[m].alias("end"),
                 F.lit("Entity").alias("label"))
        for m in range(3)])
    return docs.select(
        d.alias("doc_id"), F.lit(0).cast("int").alias("sent_idx"),
        ner.alias("ner"), relations.alias("relations"))


def _q_model_multi(schema):
    """Model-scored extraction for one multi-schema decode (event/role/
    hypergraph — the per-schema n-ary head families of modeling_bert.py:
    2230-2256; decodes at run_re.py:1519-1628 / 1764-1862 / 1979-2061)
    over the planted corpus with deterministic doc-dependent tokens.
    Mini-model logits are not SQL-expressible — rows-only driver check;
    bit-parity vs the decode oracle and the local-loop twin is
    pytest-asserted (tests/test_multi_schema.py)."""

    def q(spark, sf_dir):
        from text2nkg_spark.config import PipelineConfig
        from text2nkg_spark.operators.extraction_multi import (
            SchemaLabels, extract_facts_multi)

        norm = _gold_multi_corpus(spark, sf_dir, schema).withColumn(
            "tokens",
            F.transform(
                F.sequence(F.lit(0), F.lit(7)),
                lambda i: F.concat(
                    F.lit("w"), (F.col("doc_id") % 7).cast("string"),
                    F.lit("_"), i.cast("string"))))
        rels, quals = _MULTI_GOLD_LABELS[schema]
        cfg = PipelineConfig(nary_schema=schema, scorer="model",
                             max_seq_length=64, max_pair_length=8)
        out = extract_facts_multi(norm, schema, cfg,
                                  SchemaLabels(rels, quals))
        cols = ["doc_id", "sent_idx",
                F.col("pred_idx").cast("int").alias("pred_idx")]
        if schema != "role":
            cols.append("rel")
        for m in (1, 2, 3):
            cols += [f"m{m}s", f"m{m}e"]
            if schema != "hypergraph":
                cols.append(f"m{m}_label")
        return out.select(*cols)

    return q


def _q_gold_multi(schema):
    """Gold-scored multi-schema extraction over the planted corpus.

    Emitted columns keep only the slots the schema defines (role has no
    relation label; hypergraph has no per-mention roles), so every compared
    cell is non-null and arithmetic-derivable."""

    def q(spark, sf_dir):
        from text2nkg_spark.config import PipelineConfig
        from text2nkg_spark.operators.extraction_multi import (
            SchemaLabels, extract_facts_multi)

        norm = _gold_multi_corpus(spark, sf_dir, schema)
        rels, quals = _MULTI_GOLD_LABELS[schema]
        cfg = PipelineConfig(nary_schema=schema, scorer="gold")
        out = extract_facts_multi(norm, schema, cfg,
                                  SchemaLabels(rels, quals))
        cols = ["doc_id", "sent_idx",
                F.col("pred_idx").cast("int").alias("pred_idx")]
        if schema != "role":
            cols.append("rel")
        for m in (1, 2, 3):
            cols += [f"m{m}s", f"m{m}e"]
            if schema != "hypergraph":
                cols.append(f"m{m}_label")
        return out.select(*cols)

    return q


def _gold_multi_oracle_sql(schema: str) -> str:
    """DuckDB twin of _q_gold_multi: the decode emits the base-ordering
    triple (sentence order), so mention m carries role_h / role_t(or the
    role-schema rel slot) / the qualifier label according to whether
    perm(d%6) put h, t or q on it."""
    if schema == "event":
        rel_sql = "'evt_' || d3 AS rel,"
        lab = ("CASE WHEN hi = {m} THEN 'rh_' || s2 "
               "WHEN ti = {m} THEN 'rt_' || d3 "
               "ELSE 'ql_' || s2 END AS m{n}_label")
    elif schema == "role":
        rel_sql = ""
        lab = ("CASE WHEN hi = {m} THEN 'ra_' || s2 "
               "WHEN ti = {m} THEN 'rb_' || d3 "
               "ELSE 'rc_' || s2 END AS m{n}_label")
    else:
        rel_sql = "'hg_' || d3 AS rel,"
        lab = None
    mention_cols = []
    for m in range(3):
        mention_cols.append(
            f"CAST(spans[{m + 1}][1] AS INT) AS m{m + 1}s, "
            f"CAST(spans[{m + 1}][2] AS INT) AS m{m + 1}e")
        if lab is not None:
            mention_cols.append(lab.format(m=m, n=m + 1))
    cols = ",\n               ".join(mention_cols)
    return f"""
        WITH g AS (
          SELECT doc_id AS d, CAST(doc_id % 2 AS INT) AS two,
                 CAST(doc_id % 6 AS INT) AS p,
                 CAST(doc_id % 3 AS VARCHAR) AS d3,
                 CAST(doc_id % 2 AS VARCHAR) AS s2
          FROM documents),
        b AS (
          SELECT d, d3, s2,
                 [[1, 1+two], [3+two, 3+two], [5+two, 5+two]] AS spans,
                 [0,0,1,1,2,2][p+1] AS hi,
                 [1,2,0,2,0,1][p+1] AS ti,
                 [2,1,2,0,1,0][p+1] AS qi
          FROM g)
        SELECT CAST(d AS BIGINT) AS doc_id, CAST(0 AS INT) AS sent_idx,
               CAST(0 AS INT) AS pred_idx,
               {rel_sql}
               {cols}
        FROM b
    """


def q_nkg_gold_pruned(spark, sf_dir):
    """Wordpiece-pruned gold extraction: cfg(tokenizer='wordpiece',
    piece_len=2, max_seq_length=20) over the gold corpus makes the subword
    pruning (run_re.py:490-491, 516-517 analogue in candidates.py) engage
    deterministically — a doc's planted fact survives iff the subword count
    through its last mention fits the window: t2s[e2+1] + 2 < max-1, i.e.
    8 + (3+two) * pieces < max-1 with pieces = 2 + ceil(len(str(d))/2).
    Exercises the strict=False decode (skip triples with a pruned ordering)
    under the driver's hash compare."""
    from text2nkg_spark.config import PipelineConfig
    from text2nkg_spark.labels import LabelSpace, make_synthetic_labels
    from text2nkg_spark.plans.pipeline import extract

    tr, gold = _gold_oracle_corpus(spark, sf_dir)
    space = LabelSpace.build(*make_synthetic_labels(3, 2))
    cfg = PipelineConfig(scorer="gold", tokenizer="wordpiece",
                         wordpiece_piece_len=2, max_seq_length=20)
    return extract(tr, cfg, space, gold=gold).select(
        "conv_id", "turn_idx",
        F.col("pred_idx").cast("int").alias("pred_idx"),
        "m1s", "m1e", "m2s", "m2e", "rel", "m3s", "m3e", "qual",
        "subj", "obj", "value")


def q_nkg_fact_manifest(spark, sf_dir):
    """S4/S5 per-partition lineage under the driver oracle: gold facts are
    written through StageManifest.run_stage partitioned by an explicit
    conv-derived bucket, REREAD from the committed parquet, and manifested
    with the engine-portable content hash (bit_xor of md5_hash52 over the
    canonical row string) — so the compared values prove the write→read
    round trip preserved every fact byte-for-byte."""
    import tempfile

    from text2nkg_spark.operators.facts import fact_table
    from text2nkg_spark.plans.manifest import StageManifest, lineage_manifest

    preds = _gold_extract_preds(spark, sf_dir)
    facts = fact_table(preds).withColumn(
        "part_id",
        ((F.col("turn_idx").cast("long") * _N_CONVS
          + F.substring("conv_id", 5, 10).cast("long")) % 8).cast("int"))
    man = StageManifest(tempfile.mkdtemp(prefix="nkg_fact_manifest_"))
    written = man.run_stage(spark, "facts", "gold-corpus",
                            lambda: facts, partition_by=["part_id"])
    return lineage_manifest(
        written, "facts", "part_id",
        ["conv_id", "turn_idx", "rel", "subj", "obj", "qual", "value"])


def q_nkg_metrics_table(spark, sf_dir):
    """S6 — the queryable metrics sink fed from REAL machinery: per-stage
    rows from the lineage manifest of an actual partitioned fact write
    (S4/S5) plus the A1-A4 eval block, projected long-format.  Every value
    is deterministic (counts and exact-1.0 ratios; wall-clock metrics are
    deliberately excluded), so the oracle states the table closed-form."""
    import tempfile

    from text2nkg_spark.operators.facts import fact_table
    from text2nkg_spark.operators.metrics import (
        metrics_table, relation_qualifier_prf)
    from text2nkg_spark.plans.manifest import StageManifest, lineage_manifest

    preds = _gold_extract_preds(spark, sf_dir)
    facts = fact_table(preds).withColumn(
        "part_id",
        ((F.col("turn_idx").cast("long") * _N_CONVS
          + F.substring("conv_id", 5, 10).cast("long")) % 8).cast("int"))
    man = StageManifest(tempfile.mkdtemp(prefix="nkg_metrics_"))
    written = man.run_stage(spark, "facts", "gold-corpus",
                            lambda: facts, partition_by=["part_id"])
    lm = lineage_manifest(
        written, "facts", "part_id",
        ["conv_id", "turn_idx", "rel", "subj", "obj", "qual", "value"])
    lrow = lm.agg(
        F.sum("rows").alias("rows_out"),
        F.count(F.lit(1)).alias("n_partitions")).collect()[0]
    _tr, gold = _gold_oracle_corpus(spark, sf_dir)
    m = relation_qualifier_prf(preds, gold)
    return metrics_table(spark, {
        "facts": {"rows_out": float(lrow["rows_out"]),
                  "n_partitions": float(lrow["n_partitions"])},
        "eval": {k: float(m[k])
                 for k in ("p", "r", "q_p", "q_r",
                           "correct_q", "num_q_ans")},
    })


# --------------------------------------------------------------------------
# relational / standard operators (SURVEY §2.9 checklist) on TPC-H-ish data
# --------------------------------------------------------------------------

def q_pricing_summary(spark, sf_dir):
    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    out = (
        l.where(F.col("l_shipdate") <= F.lit("1998-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(
                dec("l_extendedprice")
                * (F.lit(1).cast("decimal(18,4)") - dec("l_discount"))
            ).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).cast("long").alias("count_order"),
        )
        .withColumn(
            "avg_qty",
            F.round(F.col("sum_qty") / F.col("count_order"), 4))
    )
    return out


def q_revenue_by_nation(spark, sf_dir):
    # guide §2.3 "aggregate before you shuffle": the per-item revenue sum
    # is pre-aggregated per orderkey BEFORE the orders join, so the join
    # shuffles one row per order instead of one per lineitem (~4x fewer
    # rows; the orderkey exchange doubles as the join partitioning).
    # DECIMAL addition is exact and associative, so the regrouped sums —
    # and the final double casts — are bit-identical to the flat
    # aggregation the DuckDB oracle runs.
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    dec = lambda x: F.col(x).cast("decimal(18,4)")  # noqa: E731
    lagg = (
        l.groupBy("l_orderkey")
        .agg(
            F.sum(
                dec("l_extendedprice")
                * (F.lit(1).cast("decimal(18,4)") - dec("l_discount"))
            ).alias("_rev"),
            F.count(F.lit(1)).alias("_n"),
        )
    )
    return (
        lagg.join(o, lagg["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.sum("_rev").cast("double").alias("revenue"),
            F.sum("_n").cast("long").alias("n_items"),
        )
    )


def q_top_orders_per_customer(spark, sf_dir):
    from pyspark.sql import Window

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select(
            F.col("o_custkey").cast("long").alias("o_custkey"),
            F.col("o_orderkey").cast("long").alias("o_orderkey"),
            F.col("rn").cast("int").alias("rn"))
    )


def q_orders_rollup(spark, sf_dir):
    """Hierarchical subtotals (ROLLUP) — grouping-sets coverage."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double").alias("total_price"),
        )
    )


def q_orders_cube(spark, sf_dir):
    """Full cross-dimension subtotals (CUBE) — completes the
    rollup/cube/grouping-sets trio.  GROUPING ids disambiguate subtotal
    NULLs from data NULLs (ANSI-portable)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double").alias("total_price"),
        )
    )


def q_lineitem_unpivot(spark, sf_dir):
    """Relational UNPIVOT (wide -> long; the dual of orders_pivot):
    lineitem's four money/quantity measures melt to (key, measure, value)
    rows via ``stack`` — the canonical long-format feed for a generic
    metrics sink.  Values pass through unchanged (no aggregation), so
    doubles compare bit-exactly cross-engine."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.where(F.col("l_orderkey") % 50 == 0)  # keep the entry compact
        .select(
            F.col("l_orderkey").cast("long").alias("l_orderkey"),
            F.col("l_linenumber").cast("int").alias("l_linenumber"),
            F.expr(
                "stack(4, 'quantity', CAST(l_quantity AS DOUBLE), "
                "'extendedprice', CAST(l_extendedprice AS DOUBLE), "
                "'discount', CAST(l_discount AS DOUBLE), "
                "'tax', CAST(l_tax AS DOUBLE)) AS (measure, value)"))
    )


def q_orders_grouping_sets(spark, sf_dir):
    """Mixed GROUPING SETS — the grouping-sets coverage beyond ROLLUP:
    ((status, priority), (status), ()) with GROUPING ids disambiguating
    subtotal NULLs (ANSI-portable)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    o.createOrReplaceTempView("_orders_gs")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_priority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                 AS total_price
        FROM _orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())
    """)


def q_orders_anti_join(spark, sf_dir):
    """Left-anti join: customers with no URGENT order — counted per
    nation so the output is small and exact (every customer has SOME
    order in this data; the priority predicate makes the anti-set real)."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
        F.col("o_orderpriority") == "1-URGENT")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    no_orders = c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
    return (
        no_orders.join(F.broadcast(n),
                       no_orders["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers")))


def q_orders_except_all(spark, sf_dir):
    """EXCEPT ALL set difference (multiset semantics): urgent orders
    minus the high-value subset — the regression-diff primitive."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    urgent = o.where(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        "o_orderstatus")
    big = o.where((F.col("o_orderpriority") == "1-URGENT")
                  & (F.col("o_totalprice") > 150000)).select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        "o_orderstatus")
    return urgent.exceptAll(big)


def q_scalar_functions(spark, sf_dir):
    """Scalar function-library parity sweep (date/string/math) — every
    expression chosen to be bit-deterministic across engines: date-part
    extraction (not locale formatting), integer/string ops, IEEE-exact
    arithmetic; transcendentals (log/exp/trig) are deliberately excluded
    — libm implementations differ in the last ulp across engines."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
        F.col("o_orderkey") < 1000)
    d = F.col("o_orderdate").cast("timestamp")
    return o.select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.year(d).cast("int").alias("yr"),
        F.month(d).cast("int").alias("mo"),
        F.dayofmonth(d).cast("int").alias("dom"),
        F.quarter(d).cast("int").alias("qtr"),
        F.datediff(F.to_date(d), F.lit("2020-01-01").cast("date"))
        .cast("int").alias("days_since"),
        F.upper(F.substring("o_orderpriority", 1, 8)).alias("prio_u"),
        F.length("o_orderpriority").cast("int").alias("prio_len"),
        F.lpad(F.col("o_orderstatus"), 3, "_").alias("status_pad"),
        F.concat_ws("#", "o_orderstatus",
                    F.col("o_orderkey").cast("string")).alias("tag"),
        F.abs(F.col("o_totalprice") - 100000.0).alias("abs_diff"),
        (F.col("o_orderkey") % 7).cast("long").alias("mod7"),
        F.greatest(F.col("o_totalprice"), F.lit(50000.0)).alias("floor50k"),
        F.when(F.col("o_orderstatus") == "F", "final")
        .when(F.col("o_orderstatus") == "O", "open")
        .otherwise("partial").alias("status_word"),
    )


def q_window_functions(spark, sf_dir):
    """Window-function breadth beyond row_number: ranking, distribution
    (cume_dist/percent_rank — exact integer-ratio divisions), tiling and
    frame navigation (lag), all on one keyed window."""
    from pyspark.sql import Window

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
        F.col("o_custkey") < 200)
    w = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey")
    return o.select(
        F.col("o_custkey").cast("long").alias("o_custkey"),
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.row_number().over(w).cast("int").alias("rn"),
        F.rank().over(w).cast("int").alias("rnk"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.cume_dist().over(w).alias("cume"),
        F.percent_rank().over(w).alias("prank"),
        F.coalesce(
            F.unix_micros(F.col("o_orderdate").cast("timestamp"))
            - F.unix_micros(F.lag("o_orderdate").over(w).cast("timestamp")),
            F.lit(-1)).cast("long").alias("gap_us"),
    )


def q_events_sessionize(spark, sf_dir):
    from pyspark.sql import Window

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    sess = (
        e.withColumn(
            "new_sess",
            F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
        .withColumn("session_id", F.sum("new_sess").over(w))
    )
    return (
        sess.groupBy("user_id")
        .agg(
            F.max("session_id").cast("long").alias("n_sessions"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .select(F.col("user_id").cast("long").alias("user_id"),
                "n_sessions", "n_events")
    )


def q_events_hourly(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH")
            .alias("hour"),
            "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
    )


def q_events_json_stats(spark, sf_dir):
    """JSON property extraction + typed aggregation — the semi-structured
    scan every event pipeline starts with: ``get_json_object`` pulls the
    integer payload out of the ``props`` JSON column (JVM-side, no UDF),
    then one hash aggregate per event type.  All-integer outputs so the
    DuckDB twin (regex-extracted — value-equivalent on this corpus, where
    every props row is ``{"k": <int>}``) is bit-exact."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("k").cast("long").alias("sum_k"),
            F.min("k").cast("long").alias("min_k"),
            F.max("k").cast("long").alias("max_k"),
            F.countDistinct("k").cast("long").alias("n_distinct_k"),
        )
    )


def q_events_funnel(spark, sf_dir):
    """Ordered three-stage funnel (view -> click -> purchase) per user:
    a user advances a stage only with an event STRICTLY AFTER their
    previous stage's first event.  Three keyed min-aggregates chained by
    equi-joins — each stage's frame is one row per surviving user, so the
    joins shrink monotonically; timestamps compare as integer epoch
    MICROS (events ts carries sub-second precision — unix_timestamp
    truncation would diverge the engines).  Output long-format
    (stage, n_users) so the driver canonicalization sorts scalars."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"))
    v = (e.where(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("us").alias("t1")))
    c = (e.where(F.col("event_type") == "click")
         .join(v, "user_id").where(F.col("us") > F.col("t1"))
         .groupBy("user_id").agg(F.min("us").alias("t2")))
    p = (e.where(F.col("event_type") == "purchase")
         .join(c, "user_id").where(F.col("us") > F.col("t2"))
         .groupBy("user_id").agg(F.min("us").alias("t3")))
    # r7: ONE aggregate over the left-join chain instead of a 3-branch
    # union (each branch re-planned the whole prefix): p ⊆ c ⊆ v by
    # construction, so count(t2)/count(t3) over v⟕c⟕p equal the branch
    # counts exactly; stack() restores the long format (identical rows).
    full = v.join(c, "user_id", "left").join(p, "user_id", "left")
    return (
        full.agg(
            F.count("t1").cast("long").alias("n1"),
            F.count("t2").cast("long").alias("n2"),
            F.count("t3").cast("long").alias("n3"))
        .select(F.expr(
            "stack(3, '1_view', n1, '2_click', n2, '3_purchase', n3) "
            "AS (stage, n_users)"))
    )


def q_orders_cohort_retention(spark, sf_dir):
    """Cohort retention matrix in long format: customers bucketed by
    first-order month (cohort), counted distinct per months-elapsed
    offset.  Months are integer year*12+month indexes — no
    months_between floats, no locale formatting — so every cell is
    engine-exact.  Shape: one min-aggregate per customer, one equi-join
    back (both keyed by custkey — co-partitioned, no broadcast needed at
    any scale), one distinct-count aggregate."""
    from pyspark.sql import Window

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
        .cast("long").alias("ym"))
    # r7: whole-partition window min instead of groupBy + join-back — the
    # cohort attaches in the SAME custkey exchange the aggregate needed,
    # removing the join (guide §2.4: two operations keyed the same way
    # share one exchange); identical rows.
    cohort = F.min("ym").over(Window.partitionBy("o_custkey"))
    return (
        o.withColumn("cohort_ym", cohort)
        .groupBy(
            F.col("cohort_ym"),
            (F.col("ym") - F.col("cohort_ym")).alias("months_since"))
        .agg(F.countDistinct("o_custkey").cast("long").alias("n_customers"))
    )


def q_nkg_pagerank(spark, sf_dir):
    """Iterative-algorithm family over the materialized KG: 3 weighted
    PageRank power iterations on the mention co-occurrence graph, in
    all-integer arithmetic (graph.pagerank_iterations — the exact
    recurrence is in its docstring) so each rank is bit-identical to the
    DuckDB chained-CTE oracle.  Each iteration is one keyed join + one
    hash aggregate; the adjacency is checkpointed once (EAGER, like the
    other fused graph entries) so the mention pipeline runs once, not
    once per iteration."""
    from text2nkg_spark.operators.graph import pagerank_iterations

    return pagerank_iterations(_mention_edges(spark, sf_dir)).select(
        "node", "rank")


def q_similarity_tfidf_cosine(spark, sf_dir):
    """Inverted-index sparse pairwise similarity — the third similarity
    family next to MinHash and dense-embedding ANN: integer tf-idf
    weights (df-pruned vocabulary), exact integer dots/norms, and a
    three-op IEEE cosine, so every float matches the DuckDB twin
    bit-for-bit (textstats.tfidf_cosine_pairs has the full determinism
    + scale-bound story)."""
    from text2nkg_spark.operators.textstats import tfidf_cosine_pairs

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return tfidf_cosine_pairs(d).select(
        "doc_id", "partner", "cosine", "rank")


def q_orders_merge_upsert(spark, sf_dir):
    """Warehouse MERGE INTO as an engine operator (merge.merge_upsert):
    a deterministic updates batch — every 10th order re-statused 'U'
    with +1000.0 price, every 97th cloned to a NEW key — merged
    latest-wins into the base table in ONE keyed shuffle.  The oracle is
    the identical UNION ALL + QUALIFY latest-wins in SQL; dates project
    as integer epoch-micros."""
    from text2nkg_spark.operators.merge import merge_upsert

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    upd = (
        o.where(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_orderstatus", F.lit("U"))
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1000.0))
        .unionByName(
            o.where(F.col("o_orderkey") % 97 == 0)
            .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(10000000))
            .withColumn("o_orderstatus", F.lit("N")))
    )
    m = merge_upsert(o, upd, keys=["o_orderkey"])
    return m.select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.col("o_custkey").cast("long").alias("o_custkey"),
        "o_orderstatus", "o_totalprice",
        F.unix_micros(F.col("o_orderdate").cast("timestamp"))
        .alias("od_us"),
        "o_orderpriority")


def q_orders_snapshot_diff(spark, sf_dir):
    """CDC between table snapshots (merge.snapshot_diff): the base
    orders table diffed against merge_upsert(base, updates) — the same
    deterministic updates batch as orders_merge_upsert — must recover
    exactly the effective changes: 'U' for every re-statused %10 key,
    'I' for every cloned %97 key, no 'D', nothing for untouched keys.
    One full outer join on the key + a null-safe struct comparison; the
    oracle rebuilds the merged snapshot in SQL and diffs with
    IS DISTINCT FROM."""
    from text2nkg_spark.operators.merge import merge_upsert, snapshot_diff

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    upd = (
        o.where(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_orderstatus", F.lit("U"))
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1000.0))
        .unionByName(
            o.where(F.col("o_orderkey") % 97 == 0)
            .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(10000000))
            .withColumn("o_orderstatus", F.lit("N")))
    )
    new = merge_upsert(o, upd, keys=["o_orderkey"])
    d = snapshot_diff(o, new, keys=["o_orderkey"])
    return d.select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        "change_type",
        F.col("o_custkey").cast("long").alias("o_custkey"),
        "o_orderstatus", "o_totalprice",
        F.unix_micros(F.col("o_orderdate").cast("timestamp"))
        .alias("od_us"),
        "o_orderpriority")


def q_events_sliding_window(spark, sf_dir):
    """Hopping/sliding windows (1 h window, 30 min slide — every event in
    exactly two windows) via the built-in ``F.window``, the batch twin of
    the streaming windowed aggregation: per (window start, event type)
    counts + distinct users, window starts as integer epoch-micros.  The
    DuckDB twin derives the two epoch-aligned starts by integer division
    — pinning that F.window's buckets are exactly epoch-aligned
    multiples of the slide."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        e.groupBy(
            F.window(F.col("ts"), "1 hour", "30 minutes").alias("w"),
            "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.countDistinct("user_id").cast("long").alias("n_users"))
        .select(
            F.unix_micros(F.col("w.start").cast("timestamp"))
            .alias("win_start_us"),
            "event_type", "n", "n_users")
    )


def q_lineitem_salted_join(spark, sf_dir):
    """Hot-key skew mitigation made driver-checkable: lineitem joins
    orders through ``joins.salted_equi_join`` (fact side salted on the
    line number, dimension side replicated n_salts ways), then
    aggregates revenue per order priority.  The salt affects ROUTING
    only — the oracle is the plain unsalted SQL join, so the driver
    hash-check proves result-equivalence of the skew plan.  Sums go
    through DECIMAL(18,4) (the pricing_summary discipline)."""
    from text2nkg_spark.operators.joins import salted_equi_join

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_linenumber",
        "l_extendedprice", "l_discount")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderpriority")
    # r7: 4 salts, not 8 — replication cost is |orders| * n_salts at any
    # scale (joins.py docstring) and 4 still splits a hot key four ways;
    # results are salt-count-invariant (the oracle is the unsalted join)
    j = salted_equi_join(li, o, "o_orderkey", n_salts=4,
                         salt_src="l_linenumber")
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
        .cast("double").alias("gross"),
        F.sum((F.col("l_extendedprice").cast("decimal(18,4)")
               * F.col("l_discount").cast("decimal(18,4)"))
              .cast("decimal(28,8)")).cast("double").alias("discount_amt"))


def q_text_pii_scrub(spark, sf_dir):
    """PII redaction (textstats.pii_scrub) — the corpus-prep scrub every
    training pipeline runs first.  The synthetic docs carry no PII, so a
    deterministic planting derived from doc_id arithmetic (the repo's
    planted-gold convention) injects an email into every doc_id % 3 == 0
    doc and a phone into every doc_id % 5 == 0 doc BEFORE the scrub;
    the oracle plants the identical strings.  Output per doc: match
    counts, redacted length, and an md5 fingerprint of the redacted
    text — so the hash check proves the replacement itself is
    byte-identical, not just the counts."""
    from text2nkg_spark.operators.textstats import pii_scrub

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0,
                   F.concat(F.lit(" reach user"),
                            F.col("doc_id").cast("string"),
                            F.lit("@example.com")))
            .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 5 == 0,
                   F.concat(F.lit(" call 555-"),
                            F.lpad((F.col("doc_id") % 1000)
                                   .cast("string"), 3, "0"),
                            F.lit("-"),
                            F.lpad((F.col("doc_id") % 10000)
                                   .cast("string"), 4, "0")))
            .otherwise(F.lit("")),
        ).alias("text"))
    s = pii_scrub(planted)
    return s.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_emails", "n_phones",
        F.length("redacted").cast("long").alias("red_len"),
        F.md5(F.col("redacted")).alias("red_fp"))


def q_nkg_triangles(spark, sf_dir):
    """Triangle participation counts on the mention co-occurrence graph
    (graph.triangle_counts): degree-oriented compact-forward enumeration
    — each triangle materializes exactly once as the wedge at its
    lowest-(degree, node) vertex — so the wedge join's fan-out is
    bounded by O(sqrt(|E|)) per node even under hub skew.  The oracle
    mirrors the orientation row-for-row (the rank is total: degree ties
    break on the node id)."""
    from text2nkg_spark.operators.graph import triangle_counts

    return triangle_counts(_mention_edges(spark, sf_dir)).select(
        "node", "n_triangles")


def q_events_resample_ffill(spark, sf_dir):
    """Time-series regularization (temporal.resample_ffill): every
    user_id % 10 == 0 user's event stream resampled onto a 1-hour
    integer-epoch-micros grid spanning that user's own activity window,
    gaps forward-filled from the deterministic last-in-bucket value
    (max(struct(us, event_id, value)) — never an unordered first()).
    The oracle regenerates the grid with unnest(generate_series) and
    fills with last_value IGNORE NULLS."""
    from text2nkg_spark.operators.temporal import resample_ffill

    e = spark.read.parquet(f"{sf_dir}/events.parquet").where(
        F.col("user_id") % 10 == 0)
    r = resample_ffill(e, step_us=3_600_000_000)
    return r.select(
        F.col("key").cast("long").alias("user_id"),
        "bucket_us", "value", "is_gap")


def q_events_transitions(spark, sf_dir):
    """Markov transition counts over per-user event sequences
    (temporal.event_transitions): (prev_type, next_type, n) with the
    sequence order pinned total by (epoch-micros, event_id).  One
    window shuffle + one map-side-combinable count."""
    from text2nkg_spark.operators.temporal import event_transitions

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return event_transitions(e).select("prev_type", "next_type", "n")


def q_nkg_fuzzy_surfaces(spark, sf_dir):
    """Fuzzy entity matching (dedup.edit1_fuzzy_pairs): all pairs of
    distinct entity surfaces at Levenshtein distance 1, found by the
    SymSpell deletion-neighborhood equi-join — never an all-pairs scan.
    The vocabulary is the gold-corpus entity surface layout ('ent{d}a/
    c/d' per doc_id — the planted-gold convention; the real mention
    n-grams are whole-word sequences that never sit at distance 1, which
    would make the check vacuous).  Typo-shaped collisions are dense
    here: suffix substitutions (ent7a~ent7c) and digit edits
    (ent10a~ent16a).  The oracle regenerates the identical variant lists
    (DISTINCT (k, variant) mirrors array_union's dedup), the identical
    64-wide bucket cap, and DuckDB's levenshtein, which agrees with
    Spark's on the standard unit-cost metric."""
    from text2nkg_spark.operators.dedup import edit1_fuzzy_pairs

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    vocab = d.select(
        F.explode(F.array(*[
            F.concat(F.lit("ent"), F.col("doc_id").cast("string"),
                     F.lit(sfx))
            for sfx in ("a", "c", "d")])).alias("surface"))
    return edit1_fuzzy_pairs(vocab, "surface").select("key_a", "key_b")


# --------------------------------------------------------------------------
# training-data ops on documents / embeddings
# --------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    """Hash-groupBy dedup stats over a PREFIX-30 normalized key (a
    deliberate blocking key for this entry — the synthetic docs collide
    only on genuine duplicates within 30 chars).  The production exact
    dedup hashes the FULL normalized text (dedup.exact_duplicates, and
    corpus_prep_pipeline's dedup stage)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    key = F.md5(F.substring(
        F.trim(F.regexp_replace(
        F.lower(F.col("text")), r"[ \t\n\r\f\x0B]+", " ")), 1, 30))
    return (
        d.select(F.col("doc_id"), key.alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
             F.min("doc_id").cast("long").alias("keeper"))
    )


def q_dedup_minhash_signature(spark, sf_dir):
    from text2nkg_spark.operators.dedup import md5_minhash_signatures_exploded

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sig = md5_minhash_signatures_exploded(d, num_hashes=2)
    return sig.select(
        F.col("doc_id").cast("long").alias("doc_id"), "sig0", "sig1")


def q_text_quality(spark, sf_dir):
    from text2nkg_spark.operators.textstats import quality_features

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = quality_features(d.select("doc_id", "text"))
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round("mean_word_len", 6).alias("mean_word_len"),
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("uniq_token_ratio", 6).alias("uniq_token_ratio"),
    )


def q_text_langid(spark, sf_dir):
    from text2nkg_spark.operators.textstats import detect_language

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = detect_language(d.select("doc_id", "text"))
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang_pred",
        F.round("lang_score", 6).alias("lang_score"),
    )


def q_text_token_counts(spark, sf_dir):
    from text2nkg_spark.operators.textstats import token_counts

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return token_counts(d.select("doc_id", "text")).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("ws_tokens").cast("long").alias("ws_tokens"),
        F.col("subword_pieces").cast("long").alias("subword_pieces"),
        F.col("est_bpe_tokens").cast("long").alias("est_bpe_tokens"),
    )


def q_text_fingerprint(spark, sf_dir):
    # posexplode + window-lead 5-grams + min/max agg — fully codegen'd
    # (HOF/element_at formulations re-evaluate the tokenization per gram
    # after CollapseProject; 30x slower)
    from pyspark.sql import Window

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tok = d.select(
        "doc_id",
        F.posexplode(
            F.split(F.trim(F.regexp_replace(
        F.lower(F.col("text")), r"[ \t\n\r\f\x0B]+", " ")), " ")).alias("pos", "t"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.col("t")] + [F.lead("t", i).over(w) for i in range(1, 5)]
    grams = tok.select(
        "doc_id", F.concat_ws(" ", *leads).alias("gram"),
        leads[-1].alias("_last")).where(F.col("_last").isNotNull())
    return (
        grams.groupBy("doc_id")
        .agg(F.min(F.md5("gram")).alias("fp_min"),
             F.max(F.md5("gram")).alias("fp_max"))
        .select(F.col("doc_id").cast("long").alias("doc_id"),
                "fp_min", "fp_max")
    )


def q_text_repetition(spark, sf_dir):
    """Gopher-style repetition stats (top unigram/bigram mass +
    distinct-word ratio) — the boilerplate/template filter of LLM corpus
    prep.  Top gram = highest count, ties to the lexicographically
    smallest gram (total order, retry-stable); fractions are single
    int/int IEEE divisions, bit-stable cross-engine."""
    from text2nkg_spark.operators.textstats import repetition_stats

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = repetition_stats(d.select("doc_id", "text"))
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_distinct_words").cast("long").alias("n_distinct_words"),
        "top_word",
        F.col("top_word_n").cast("long").alias("top_word_n"),
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.col("n_distinct_bigrams").cast("long").alias("n_distinct_bigrams"),
        "top_bigram",
        F.col("top_bigram_n").cast("long").alias("top_bigram_n"),
        "top_word_frac", "top_bigram_frac", "distinct_word_ratio",
    )


def q_text_contamination(spark, sf_dir):
    """Benchmark-contamination scan: docs with doc_id % 97 == 0 stand in
    for the eval benchmark; every other doc reports the fraction of its
    distinct word trigrams that appear in the benchmark.  The benchmark
    shingle set BROADCASTS (plan-asserted) — the corpus side never
    shuffles for the membership probe."""
    from text2nkg_spark.operators.textstats import contamination_overlap

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")
    bench = d.where(F.col("doc_id") % 97 == 0)
    cand = d.where(F.col("doc_id") % 97 != 0)
    out = contamination_overlap(cand, bench, n=3, threshold=0.5)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_shingles").cast("long").alias("n_shingles"),
        F.col("n_overlap").cast("long").alias("n_overlap"),
        "overlap_frac", "contaminated",
    )


def q_orders_pivot(spark, sf_dir):
    """Relational PIVOT: per order priority, order counts and exact price
    mass spread across the three order statuses as columns.  Counts
    coalesce to 0 (SQL's count-FILTER convention); price sums go through
    DECIMAL(18,4) so the aggregation is exact before the final double
    cast (the pricing_summary discipline — double accumulation order is
    not cross-engine stable)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    p = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
             .alias("price")))
    cols = [F.col("o_orderpriority")]
    for st in ("F", "O", "P"):
        lo = st.lower()
        cols.append(F.coalesce(F.col(f"{st}_n"), F.lit(0))
                    .cast("long").alias(f"n_{lo}"))
        cols.append(F.col(f"{st}_price").cast("double").alias(f"price_{lo}"))
    return p.select(*cols)


def _probe_dim(emb, vec_col: str = "embedding") -> int | None:
    """Vector length from the first row, or None (inline-md5 fallback) for
    an empty table / NULL first vector."""
    row = emb.select(vec_col).first()
    return len(row[0]) if row is not None and row[0] is not None else None


def q_emb_topk(spark, sf_dir):
    from text2nkg_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    out = brute_force_topk(emb, queries, k=10)
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("rank").cast("int").alias("rank"),
    )


def q_emb_neardup(spark, sf_dir):
    """Cosine pairs within hyperplane-LSH buckets (the scale-safe default
    blocking); md5-derived plane weights make the buckets SQL-reproducible."""
    from text2nkg_spark.operators.dedup import embedding_cosine_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = _probe_dim(emb)  # fold plane weights when the dim is knowable
    return embedding_cosine_pairs(emb, threshold=0.3, lsh_dim=dim).select(
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        "cosine",
    )


def q_dedup_ngram_jaccard(spark, sf_dir):
    """Exact word-bigram Jaccard within (lang, length-bucket) blocks,
    each block capped at 32 docs (active at sf0.01 AND sf0.1 — the oracle
    mirrors the cap with an identically-keyed QUALIFY)."""
    from text2nkg_spark.operators.dedup import ngram_jaccard_pairs

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return ngram_jaccard_pairs(d, threshold=0.4, max_bucket=32).select(
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        "jaccard")


def q_dedup_simhash_pairs(spark, sf_dir):
    """52-bit md5-derived SimHash with 13-bit chunk blocking (oracle-exact)."""
    from text2nkg_spark.operators.dedup import simhash_pairs

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return simhash_pairs(d, max_hamming=6).select(
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        F.col("hamming").cast("int").alias("hamming"))


def q_dedup_clusters(spark, sf_dir):
    """Near-dup cluster materialization over the simhash pair graph:
    connected components + keeper election — the keep-list step every
    dedup pipeline ends with; oracle = recursive-CTE reachability over
    the identical pair SQL."""
    from text2nkg_spark.operators.dedup import dedup_clusters, simhash_pairs

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = simhash_pairs(d, max_hamming=6)
    return dedup_clusters(pairs, d).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        "is_keeper")


def q_similarity_lsh_topk(spark, sf_dir):
    """Bucketed ANN top-k; integer ranks only (robust driver hashing)."""
    from text2nkg_spark.operators.similarity import lsh_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = _probe_dim(emb)  # fold plane weights when the dim is knowable
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return lsh_topk(emb, queries, k=10, dim=dim).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("rank").cast("int").alias("rank"))


def q_sample_deterministic(spark, sf_dir):
    """Stable hash sampling (rate 0.2): kept set is a pure function of
    (doc_id, seed) — rerun/repartition/engine invariant, rates nest."""
    from text2nkg_spark.operators.sampling import deterministic_sample

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return deterministic_sample(d, rate=0.2, seed=42).select(
        F.col("doc_id").cast("long").alias("doc_id"), "sample_bucket")


_STRATA_RATES = {"en": 0.1, "de": 1.0, "es": 0.5, "fr": 0.25}


def q_sample_stratified(spark, sf_dir):
    """Language-rebalancing sample: per-stratum deterministic rates."""
    from text2nkg_spark.operators.sampling import stratified_sample

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return stratified_sample(d, _STRATA_RATES, seed=42).select(
        F.col("doc_id").cast("long").alias("doc_id"), "lang",
        "sample_bucket")


def q_pack_token_shards(spark, sf_dir):
    """Token-quota sharding (budget 2048) + per-shard packing manifest."""
    from text2nkg_spark.operators.sampling import (
        shard_stats, token_quota_shards)

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return shard_stats(token_quota_shards(d, budget=2048)).select(
        "shard",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("tok_total").cast("long").alias("tok_total"),
        F.col("doc_min").cast("long").alias("doc_min"),
        F.col("doc_max").cast("long").alias("doc_max"))


def q_corpus_prep_pipeline(spark, sf_dir):
    """The full training-data prep flow COMPOSED as one query —
    integer-exact quality gate (token count + distinct-token ratio via
    integer cross-multiplication, engine-exact) -> exact dedup among the
    survivors (full-normalized-text md5, window-min keeper: one shuffle,
    no join, and a low-quality earliest copy can't drag its duplicate
    group out of the corpus) -> stratified language rebalancing ->
    token-quota sharding -> per-shard packing manifest.  Each stage is
    the operator its standalone entry already checks; this proves they
    CHAIN — the actual shape of a 100 TB corpus-prep job."""
    from pyspark.sql import Window

    from text2nkg_spark.operators.dedup import normalize_text
    from text2nkg_spark.operators.sampling import (
        shard_stats, stratified_sample, token_quota_shards)

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    norm = normalize_text(F.col("text"))
    toks = F.split(norm, " ")
    docs = d.select(
        "doc_id", "text", "lang",
        # FULL-text hash (same key as dedup.exact_duplicates) — a prefix
        # hash would collapse distinct docs sharing boilerplate openings
        F.md5(norm).alias("content_hash"),
        F.size(toks).alias("n_toks"),
        F.size(F.array_distinct(toks)).alias("n_uniq"))
    # quality gate FIRST, then dedup among survivors: keeper = min
    # SURVIVING doc_id, so a low-quality earliest copy cannot drag its
    # whole duplicate group out of the corpus
    gated = docs.where(
        (F.col("n_toks") >= 8)
        & (F.col("n_uniq") * 10 >= F.col("n_toks") * 3))
    keeper = F.min("doc_id").over(Window.partitionBy("content_hash"))
    deduped = gated.withColumn("keeper", keeper).where(
        F.col("doc_id") == F.col("keeper"))
    sampled = stratified_sample(deduped, _STRATA_RATES, seed=42)
    sharded = token_quota_shards(
        sampled.select("doc_id", "text"), budget=2048)
    return shard_stats(sharded).select(
        "shard",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("tok_total").cast("long").alias("tok_total"),
        F.col("doc_min").cast("long").alias("doc_min"),
        F.col("doc_max").cast("long").alias("doc_max"))


def _doc_tokens(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.split(
        F.trim(F.regexp_replace(
        F.lower(F.col("text")), r"[ \t\n\r\f\x0B]+", " ")), " ")
    return d.select("lang", F.explode(toks).alias("tok"))


def q_sketch_distinct_tokens(spark, sf_dir):
    """KMV distinct-count sketch (k=16) per language over document tokens,
    alongside the exact distinct count — the deterministic, mergeable,
    engine-verifiable alternative to HLL approx_count_distinct."""
    from text2nkg_spark.operators.sketches import kmv_distinct

    toks = _doc_tokens(spark, sf_dir)
    est = kmv_distinct(toks, ["lang"], "tok", k=16)
    exact = toks.groupBy("lang").agg(
        F.countDistinct("tok").alias("exact_distinct"))
    return est.join(exact, "lang").select(
        "lang", F.col("n_kept").cast("long").alias("n_kept"),
        "kth_hash", "est_distinct",
        F.col("exact_distinct").cast("long").alias("exact_distinct"))


def q_sketch_bottomk_sample(spark, sf_dir):
    """Coordinated bottom-k uniform sample (k=8) of tokens per language —
    stable across reruns, layouts, and engines."""
    from text2nkg_spark.operators.sketches import bottomk_sample

    return bottomk_sample(
        _doc_tokens(spark, sf_dir), ["lang"], "tok", k=8)


def q_events_asof(spark, sf_dir):
    """As-of join (no Spark built-in): every click joined to the user's
    latest purchase at-or-before it — union-tag + one window pass, a
    single shuffle on the key; the oracle is DuckDB's native ASOF JOIN.
    All gaps in integer epoch-micros (the events carry sub-second ts)."""
    from text2nkg_spark.operators.temporal import asof_join

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = e.where(F.col("event_type") == "click")
    purchases = e.where(F.col("event_type") == "purchase")
    out = asof_join(clicks, purchases, ["user_id"], "ts",
                    payload_cols=["event_id", "ts"],
                    tiebreak_col="event_id")
    return out.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.col("asof_event_id").cast("long").alias("purchase_event_id"),
        (F.unix_micros(F.col("ts").cast("timestamp"))
         - F.unix_micros(F.col("asof_ts").cast("timestamp")))
        .cast("long").alias("gap_us"),
    )


def q_events_range_join(spark, sf_dir):
    """Interval self-join |dt| <= 120s via bucket + neighbor-bucket
    equi-join (never the quadratic theta-join); exact integer-microsecond
    filter; the oracle runs the plain inequality join."""
    from text2nkg_spark.operators.temporal import range_pair_counts

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return range_pair_counts(
        e, delta_us=120_000_000, group_cols=("event_type",),
        distinct_col="user_id",
    ).select("event_type", "n_pairs")


def q_events_percentiles(spark, sf_dir):
    """Exact nearest-rank quantiles per event type (p50/p90/p99 of value)
    — actual data values, zero interpolation, engine-reproducible (unlike
    percentile_approx's t-digest)."""
    from text2nkg_spark.operators.sketches import nearest_rank_quantiles

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return nearest_rank_quantiles(
        e.select("event_type", "value"), ["event_type"], "value",
        ps=(0.5, 0.9, 0.99),
    ).select("event_type", "n", "p50", "p90", "p99")


def q_text_tfidf_topk(spark, sf_dir):
    """Per-document top-3 TF-IDF keywords (reciprocal-df weighting — the
    one idf form whose scores reproduce bit-for-bit across engines)."""
    from text2nkg_spark.operators.textstats import tfidf_top_terms

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return tfidf_top_terms(d.select("doc_id", "text"), k=3).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "term", "tf", "df", "rank")


def q_similarity_ivf_topk(spark, sf_dir):
    """IVF ANN (the second scale path next to hyperplane LSH): corpus
    partitioned into 8 deterministic cells, queries probe their 2 nearest
    — integer ranks only (robust driver hashing)."""
    from text2nkg_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return ivf_topk(emb, queries, k=10, n_cells=8, n_probe=2).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("rank").cast("int").alias("rank"))


def _mention_edges(spark, sf_dir):
    from text2nkg_spark.operators.graph import mention_cooccurrence
    from text2nkg_spark.operators.mentions import (
        detect_mentions, mention_surfaces)

    tr = _derived_transcripts(spark, sf_dir)
    men = mention_surfaces(detect_mentions(tr, predicate=_dict_pred))
    return mention_cooccurrence(men, "conv_id", "surface")


def q_nkg_cooccurrence(spark, sf_dir):
    """Entity-surface co-occurrence edges (same conversation), the KG
    analytics view a consumer builds over the mention stream: distinct
    (conv, surface) first, capped equi-self-join, one agg."""
    return _mention_edges(spark, sf_dir).select(
        "surface_a", "surface_b", "n_groups")


def q_nkg_entity_degree(spark, sf_dir):
    """Per-surface degree over the co-occurrence graph."""
    from text2nkg_spark.operators.graph import cooccurrence_degree

    return cooccurrence_degree(_mention_edges(spark, sf_dir)).select(
        "surface", "degree", "n_cooccurrences")


def q_nkg_entity_cooccurrence(spark, sf_dir):
    """The G4 north-star TAIL, driver-visible: the surface-level
    co-occurrence graph re-keyed to canonical entity ids through
    ``rekey_facts_to_entities`` (surface->entity map broadcast ONLY when
    the small-vocab branch produced it — threaded ``small_vocab`` flag;
    coalesce fallback for unmapped surfaces — canonicalize.py:~400) and
    re-aggregated at entity grain.  Surfaces the LSH+CC merged collapse
    onto one node: self-edges drop, parallel edges sum.  Endpoints
    normalize least/greatest so the undirected edge is total-ordered."""
    from text2nkg_spark.operators.canonicalize import (
        canonicalize_entities, rekey_facts_to_entities)
    from text2nkg_spark.operators.graph import mention_cooccurrence
    from text2nkg_spark.operators.mentions import (
        detect_mentions, mention_surfaces)

    tr = _derived_transcripts(spark, sf_dir)
    men = mention_surfaces(detect_mentions(tr, predicate=_dict_pred))
    edges = mention_cooccurrence(men, "conv_id", "surface")
    canon = canonicalize_entities(men)
    # thread the branch flag: broadcast only when the map came from the
    # small-vocab driver-side branch; the distributed branch's map is
    # distinct-surface-sized and must join normally (canonicalize.py)
    keyed = rekey_facts_to_entities(
        edges.select(F.col("surface_a").alias("subj"),
                     F.col("surface_b").alias("obj"), "n_groups"),
        canon["surface_to_entity"].select("surface", "entity_id"),
        broadcast_map=canon["small_vocab"])
    return (
        keyed.select(
            F.least("subj_entity_id", "obj_entity_id").alias("entity_a"),
            F.greatest("subj_entity_id", "obj_entity_id").alias("entity_b"),
            "n_groups")
        .where(F.col("entity_a") != F.col("entity_b"))
        .groupBy("entity_a", "entity_b")
        .agg(F.sum("n_groups").cast("long").alias("n_groups"),
             F.count(F.lit(1)).cast("long").alias("n_surface_pairs"))
    )


def q_bloom_semijoin(spark, sf_dir):
    """Bloom-filter semi-join pruning: the urgent-orders key bloom (2^18
    bits / 8192 words, 3 hashes, md5-derived = engine-reproducible) ships
    to the lineitem scan as broadcast data (bloom_filter_join) and the
    membership probe runs as a projection before any key-partitioned
    shuffle; exact counts quantify the false-positive cost.  Bench-scale
    note: the explicit repartition below exists only to spread the
    CPU-bound md5 probes beyond the table's 3 parquet splits — at 100 TB
    the scan has thousands of splits and the probe stays shuffle-free."""
    from text2nkg_spark.operators.sketches import (
        bloom_filter_join, bloom_words)

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    urgent = orders.where(
        F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    bits = 1 << 18  # sized for ~30k keys at sf0.1 (fill ~0.3); the 64 KB
    # word list is still a broadcast-class payload
    words = bloom_words(urgent, "o_orderkey", bits=bits)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    # ONE scan computes all three counts: the bloom probe rides a
    # broadcast-DATA join (bloom_filter_join — a 2^18-bit bloom as a plan
    # literal costs ~6 s of Catalyst planning per query) and the exact
    # membership a broadcast left join — at 100 TB the big-side scan
    # dominates, so never scan it twice for two aggregates.  The k md5
    # probes are CPU-bound; at bench scale the table is 3 parquet splits,
    # so an explicit repartition spreads the hash work across all cores
    # (at 100 TB the scan has thousands of splits and this is moot)
    probed = bloom_filter_join(
        li.select("l_orderkey").repartition(
            max(spark.sparkContext.defaultParallelism, 8)),
        words, "l_orderkey", bits=bits, flag="ok")
    joined = probed.join(
        F.broadcast(urgent),
        F.col("l_orderkey") == F.col("o_orderkey"), "left")
    return joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_probe"),
        F.sum(F.when(F.col("ok"), 1).otherwise(0)).cast("long")
        .alias("n_bloom_pass"),
        F.count("o_orderkey").cast("long").alias("n_true"),
        (F.sum(F.when(F.col("ok"), 1).otherwise(0))
         - F.count("o_orderkey")).cast("long").alias("n_false_pos"))


def q_events_scd2(spark, sf_dir):
    """Type-2 SCD dimension-history build (temporal.scd2_intervals):
    each user's event_type change stream collapsed into half-open
    validity intervals with a version counter — run starts by null-safe
    lag compare, interval ends by lead, -1 sentinel (never NULL) on the
    open current version.  Both windows share one partitioning, so the
    plan carries ONE Exchange; exact integer epoch-micros ordering with
    the unique event_id tiebreak keeps both engines on the same
    sequence."""
    from text2nkg_spark.operators.temporal import scd2_intervals

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return scd2_intervals(ev, key_col="user_id", attr_col="event_type").select(
        F.col("key").cast("long").alias("user_id"),
        F.col("attr").alias("event_type"),
        "eff_from_us", "eff_to_us", "version")


def q_events_interval_overlap(spark, sf_dir):
    """Interval self-overlap join (temporal.interval_overlap_pairs):
    events become sessions [ts, ts + value minutes] (duration = ONE
    double multiply by 60000000.0 then floor — the oracle writes the
    identical expression so IEEE rounding matches); all same-user
    overlapping session pairs with exact integer overlap length.  The
    engine meets each pair exactly once via the later-start-home /
    earlier-span-explode bucket equi-join (6 h buckets >= the 5.5 h max
    duration, so the span explode is <=2 buckets per row); the oracle is
    the plain O(n^2)-shaped theta-join DuckDB can afford at this scale."""
    from text2nkg_spark.operators.temporal import interval_overlap_pairs

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    iv = ev.select(
        "event_id", "user_id",
        us.alias("s_us"),
        (us + F.floor(F.col("value") * F.lit(60000000.0)).cast("long"))
        .alias("e_us"))
    return interval_overlap_pairs(
        iv, key_col="user_id", id_col="event_id").select(
        F.col("key").cast("long").alias("user_id"),
        F.col("ev_a").cast("long").alias("ev_a"),
        F.col("ev_b").cast("long").alias("ev_b"),
        "overlap_us")


def q_nkg_kcore(spark, sf_dir):
    """Bounded k-core peeling (graph.kcore_nodes, k=2, 3 rounds) over
    the mention co-occurrence graph: iteratively strip nodes with fewer
    than 2 surviving co-mention partners, report survivors with their
    in-core degree.  Fixed round count keeps it a pure dataflow the
    chained-CTE DuckDB oracle mirrors round for round; the adjacency is
    checkpointed per round (three consumers per round — see the
    operator docstring)."""
    from text2nkg_spark.operators.graph import kcore_nodes

    return kcore_nodes(_mention_edges(spark, sf_dir), k=2, iterations=3
                       ).select("node", "core_degree")


def q_complex_type_functions(spark, sf_dir):
    """Complex-type function-library sweep (arrays/structs/maps —
    the §2.9 breadth row next to scalar_functions): per-row arrays
    built from lineitem measures, then sort / index / filter / fold /
    containment / distinct-count and a map lookup — every OUTPUT column
    a scalar, so driver canonicalization hashes cleanly.  Everything is
    a native Catalyst expression — no UDF, though the two HOF lambdas
    (filter/aggregate) evaluate INTERPRETED, never codegen (the round-1
    hard-won fact) — fine on a 2000-order slice, not a hot-path shape;
    the fold keeps the foldLeft order both engines define, and only
    IEEE-exact arithmetic (+, *) appears inside lambdas."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").where(
        (F.col("l_orderkey") < 2000)
        # NULL measures would hit cross-engine divergences (Spark
        # array_sort NULLS LAST vs DuckDB list_sort NULLS FIRST) and
        # NULL tags two more (array_distinct keeps one NULL where
        # list_distinct drops all; array_contains yields NULL where
        # list_contains yields false) — excluded identically both sides
        & F.col("l_quantity").isNotNull()
        & F.col("l_extendedprice").isNotNull()
        & F.col("l_discount").isNotNull() & F.col("l_tax").isNotNull()
        & F.col("l_returnflag").isNotNull()
        & F.col("l_linestatus").isNotNull())
    arr = F.array(F.col("l_quantity").cast("double"),
                  F.col("l_extendedprice").cast("double"),
                  F.col("l_discount").cast("double"),
                  F.col("l_tax").cast("double"))
    sarr = F.array_sort(arr)
    tags = F.array(F.col("l_returnflag"), F.col("l_linestatus"),
                   F.concat("l_returnflag", "l_linestatus"))
    return li.select(
        F.col("l_orderkey").cast("long").alias("l_orderkey"),
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        F.element_at(sarr, 2).alias("second_smallest"),
        F.element_at(sarr, -1).alias("largest"),
        F.size(F.array_distinct(tags)).cast("int").alias("n_distinct_tags"),
        F.array_position(sarr, F.col("l_discount").cast("double"))
        .cast("long").alias("discount_rank"),
        F.size(F.filter(arr, lambda x: x > F.lit(1.0)))
        .cast("int").alias("n_over_one"),
        F.aggregate(arr, F.lit(0.0), lambda a, x: a + x).alias("fold_sum"),
        F.array_contains(tags, "NO").cast("int").alias("has_no"),
        F.concat_ws("|", F.slice(tags, 1, 2)).alias("tag_prefix"),
        F.element_at(
            F.create_map(F.lit("q"), F.col("l_quantity").cast("double"),
                         F.lit("t"), F.col("l_tax").cast("double")),
            F.lit("t")).alias("map_tax"),
        F.struct(F.col("l_returnflag").alias("f"),
                 F.col("l_linestatus").alias("s"))
        .getField("f").alias("struct_flag"),
    )


def q_orders_profile(spark, sf_dir):
    """One-pass table profiling (profile.profile_table — Deequ-style
    data-quality scan): per-column null counts, exact distinct counts,
    and typed min/max for five orders columns plus the orderdate as
    epoch-micros, ALL from ONE aggregate over ONE scan (a naive
    profiler runs a job per column).  Numbers are never
    string-formatted — float rendering is engine-specific — so numeric
    min/max travel as doubles and string min/max as strings."""
    from text2nkg_spark.operators.profile import profile_table

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus",
        "o_orderpriority",
        F.unix_micros(F.col("o_orderdate").cast("timestamp"))
        .alias("o_orderdate_us"))
    return profile_table(o, [
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus",
        "o_orderpriority", "o_orderdate_us"])


def q_events_value_histogram(spark, sf_dir):
    """Fixed-width histogram of the events value column (width-10 bins
    via floor of ONE IEEE division — correctly-rounded and therefore
    engine-exact), with count and an exact DECIMAL(18,2)-aggregated sum
    per bin (the pricing_summary discipline: decimal while summing,
    double only at the end).  One map-side-combinable aggregate —
    histogramming at 100 TB is exactly this shape."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").where(
        F.col("value").isNotNull())
    return (
        ev.select(
            F.floor(F.col("value") / F.lit(10.0)).cast("long").alias("bin"),
            F.col("value").cast("decimal(18,2)").alias("_v"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.sum("_v").cast("double").alias("sum_value"))
    )


def q_events_window_frames(spark, sf_dir):
    """Window-FRAME breadth (the one §2.9 window surface
    window_functions leaves out — it covers ranking/distribution/lag
    over default frames): a ROWS frame (moving 3-row sum/min/max, total
    (epoch-micros, event_id) order) and a RANGE frame (trailing-1h event
    count over the numeric micros key — RANGE bounds need a single
    numeric sort key, and tie rows enter the frame together in both
    engines, so it is order-stable without a tiebreak).  The moving sum
    runs in DECIMAL(18,2) (exact, order-free) and casts to double only
    at the end; both frames share one partitioning, ONE Exchange."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    base = ev.where(us.isNotNull()).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        us.alias("us"), "value")
    w3 = (Window.partitionBy("user_id").orderBy("us", "event_id")
          .rowsBetween(-2, Window.currentRow))
    wh = (Window.partitionBy("user_id").orderBy("us")
          .rangeBetween(-3_600_000_000, Window.currentRow))
    return base.select(
        "user_id", "event_id",
        F.sum(F.col("value").cast("decimal(18,2)")).over(w3)
        .cast("double").alias("mov_sum3"),
        F.min("value").over(w3).alias("mov_min3"),
        F.max("value").over(w3).alias("mov_max3"),
        F.count(F.lit(1)).over(wh).cast("long").alias("n_last_hour"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER IS EVIDENCE: the driver's correctness snapshot covers the
    # FIRST 50 entries only.  Rotation policy (VERDICT r4 #1 / r5 #3 /
    # r6 #1): keep every oracle entry's latest driver row <=2 rounds old.
    # Round-7 rotation (the optimization round): the 32 oracle entries
    # whose latest driver rows are r5 lead (the exact displacee list from
    # r6's markers), every query whose ENGINE changed in this round's
    # optimization work sits inside the window so the driver re-verifies
    # the change, and r6-green join-shaped entries fill the rest.  With
    # 82 oracles over a 50-slot window this closes the freshness debt:
    # after r7 no oracle entry is more than one round stale.  Contract
    # growth is FROZEN at 91 entries / 82 oracles (VERDICT r6 #1).
    # Every oracle-backed entry keeps its oracle regardless of position;
    # the harness-mirror test (tests/test_entry_contract.py) still
    # compares ALL of them, at sf0.001 in CI and sf0.01 via
    # SPARK_GRAFT_CONTRACT_SF sweeps.
    return {
        # -- latest driver rows are r5 (the full 32-entry displacee set
        #    from r6's rotation — every oracle entry back to <=1 round
        #    stale, closing the r6 freshness debt) -----------------------
        "nkg_gold_extract": q_nkg_gold_extract,
        "nkg_gold_unidirect": q_nkg_gold_unidirect,
        "nkg_entities": q_nkg_entities,
        "nkg_gold_event_extract": _q_gold_multi("event"),
        "nkg_gold_role_extract": _q_gold_multi("role"),
        "nkg_gold_hypergraph_extract": _q_gold_multi("hypergraph"),
        "nkg_metrics_table": q_nkg_metrics_table,
        "nkg_gold_pruned": q_nkg_gold_pruned,
        "nkg_gold_pipeline": q_nkg_gold_pipeline,
        "nkg_gold_comp_match": q_nkg_gold_comp_match,
        "nkg_label_vocab": q_nkg_label_vocab,
        "nkg_fact_manifest": q_nkg_fact_manifest,
        "orders_pivot": q_orders_pivot,
        "orders_cube": q_orders_cube,
        "sample_stratified": q_sample_stratified,
        "lineitem_unpivot": q_lineitem_unpivot,
        "orders_grouping_sets": q_orders_grouping_sets,
        "orders_anti_join": q_orders_anti_join,
        "orders_except_all": q_orders_except_all,
        "sample_deterministic": q_sample_deterministic,
        "bloom_semijoin": q_bloom_semijoin,
        "events_asof": q_events_asof,
        "events_range_join": q_events_range_join,
        "events_percentiles": q_events_percentiles,
        "similarity_ivf_topk": q_similarity_ivf_topk,
        "nkg_cooccurrence": q_nkg_cooccurrence,
        "nkg_entity_degree": q_nkg_entity_degree,
        "pack_token_shards": q_pack_token_shards,
        "emb_topk": q_emb_topk,
        "emb_neardup": q_emb_neardup,
        "similarity_lsh_topk": q_similarity_lsh_topk,
        # -- engine changed this optimization round (size-adaptive
        #    graph/canonicalize twins, checkpointed tfidf postings,
        #    funnel/cohort/revenue reshapes, salted-join fixes) — the
        #    driver re-verifies every touched query ----------------------
        "revenue_by_nation": q_revenue_by_nation,
        "nkg_entity_cooccurrence": q_nkg_entity_cooccurrence,
        "nkg_pagerank": q_nkg_pagerank,
        "nkg_triangles": q_nkg_triangles,
        "nkg_kcore": q_nkg_kcore,
        "events_funnel": q_events_funnel,
        "orders_cohort_retention": q_orders_cohort_retention,
        "similarity_tfidf_cosine": q_similarity_tfidf_cosine,
        "lineitem_salted_join": q_lineitem_salted_join,
        # -- r6-green fill: join-shaped entries that exercise the new
        #    session defaults (shuffled-hash preference, 16g local heap) --
        "orders_merge_upsert": q_orders_merge_upsert,
        "orders_snapshot_diff": q_orders_snapshot_diff,
        "events_interval_overlap": q_events_interval_overlap,
        "events_resample_ffill": q_events_resample_ffill,
        "events_sliding_window": q_events_sliding_window,
        "corpus_prep_pipeline": q_corpus_prep_pipeline,
        "dedup_simhash_pairs": q_dedup_simhash_pairs,
        "dedup_clusters": q_dedup_clusters,
        "events_scd2": q_events_scd2,
        # ---------------- past the 50-entry driver window ----------------
        # all r6-green and untouched this round (their oracles still run
        # in the pytest mirror at every sf; rotate back r8 if there is one)
        "nkg_doc_assembly": q_nkg_doc_assembly,
        "nkg_turn_invariant": q_nkg_turn_invariant,
        "nkg_mentions": q_nkg_mentions,
        "pricing_summary": q_pricing_summary,
        "top_orders_per_customer": q_top_orders_per_customer,
        "events_hourly": q_events_hourly,
        "events_sessionize": q_events_sessionize,
        "orders_rollup": q_orders_rollup,
        "window_functions": q_window_functions,
        "scalar_functions": q_scalar_functions,
        "nkg_gold_compacted": q_nkg_gold_compacted,
        "nkg_gold_compacted_conv": q_nkg_gold_compacted_conv,
        "dedup_exact": q_dedup_exact,
        "dedup_minhash_signature": q_dedup_minhash_signature,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "text_quality": q_text_quality,
        "text_langid": q_text_langid,
        "text_token_counts": q_text_token_counts,
        "text_fingerprint": q_text_fingerprint,
        "text_tfidf_topk": q_text_tfidf_topk,
        "text_repetition": q_text_repetition,
        "text_contamination": q_text_contamination,
        "text_pii_scrub": q_text_pii_scrub,
        "sketch_distinct_tokens": q_sketch_distinct_tokens,
        "sketch_bottomk_sample": q_sketch_bottomk_sample,
        "orders_profile": q_orders_profile,
        "events_value_histogram": q_events_value_histogram,
        "events_window_frames": q_events_window_frames,
        "complex_type_functions": q_complex_type_functions,
        "events_json_stats": q_events_json_stats,
        "events_transitions": q_events_transitions,
        "nkg_fuzzy_surfaces": q_nkg_fuzzy_surfaces,
        # rows-only entries (hash/mini-model families; driver rows in
        # r4/r5 artifacts; determinism + pinned counts pytest-asserted)
        "nkg_extract_facts": q_nkg_extract_facts,
        "nkg_model_extract": q_nkg_model_extract,
        "nkg_model_event_extract": _q_model_multi("event"),
        "nkg_model_role_extract": _q_model_multi("role"),
        "nkg_model_hypergraph_extract": _q_model_multi("hypergraph"),
        "nkg_compacted": q_nkg_compacted,
        "nkg_event_extract": _q_multi_schema("event"),
        "nkg_role_extract": _q_multi_schema("role"),
        "nkg_hypergraph_extract": _q_multi_schema("hypergraph"),
    }


# --------------------------------------------------------------------------
# DuckDB oracles
# --------------------------------------------------------------------------

# ---- DuckDB twins of the md5-derived hash primitives ----------------------
# 52-bit hash = first 13 hex chars of md5, parsed by digit-sum (every value
# is exactly float64-representable, so CAST is exact); mirrors
# text2nkg_spark.plans.manifest.md5_hash52 bit-for-bit.

_CENTER_52 = 1 << 51


def _hex52_sql(x: str) -> str:
    return ("CAST(list_sum(list_transform(range(1,14), hx -> "
            f"strpos('123456789abcdef', substr(md5({x}), hx, 1)) "
            "* (16.0 ** (13 - hx)))) AS BIGINT)")


def _norm_sql(vec: str) -> str:
    return ("sqrt(list_reduce(list_prepend(0.0, list_transform("
            f"range(1, len({vec}) + 1), i -> CAST({vec}[i] AS DOUBLE) "
            f"* CAST({vec}[i] AS DOUBLE))), (a, x) -> a + x))")


def _dot_sql(u: str, v: str) -> str:
    return ("list_reduce(list_prepend(0.0, list_transform("
            f"range(1, len({u}) + 1), i -> CAST({u}[i] AS DOUBLE) "
            f"* CAST({v}[i] AS DOUBLE))), (a, x) -> a + x)")


def _bucket_sql(vec: str, planes: int = 8, seed: int = 42) -> str:
    """Hyperplane-LSH bucket id — the DuckDB twin of
    similarity.hyperplane_bucket (same md5 weights, same left-fold order,
    so the float64 projections and their signs match exactly)."""
    def proj(p: int) -> str:
        key = f"'{p}|' || CAST(i - 1 AS VARCHAR) || '|{seed}'"
        w = f"CAST({_hex52_sql(key)} - {_CENTER_52} AS DOUBLE)"
        return ("list_reduce(list_prepend(0.0, list_transform("
                f"range(1, len({vec}) + 1), i -> CAST({vec}[i] AS DOUBLE) "
                f"* {w})), (a, x) -> a + x)")

    return " + ".join(
        f"(CASE WHEN {proj(p)} > 0 THEN CAST({1 << p} AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END)"
        for p in range(planes))


def _simhash_oracle_sql(max_hamming: int = 6, max_bucket: int = 4096) -> str:
    """DuckDB twin of dedup.simhash_fingerprints + chunk-blocked pairs,
    including the bucket-width cap (same key, same doc_id order)."""
    votes = ",\n                   ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(52))
    sh = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END)"
        for b in range(52))
    return f"""
        WITH base AS (
          SELECT doc_id,
                 string_split(trim(regexp_replace(lower(text),
                       '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')), ' ') AS toks
          FROM documents),
        tok AS (SELECT doc_id, unnest(toks) AS t FROM base),
        h AS (SELECT doc_id, {_hex52_sql('t')} AS h FROM tok),
        v AS (SELECT doc_id, {votes}
              FROM h GROUP BY doc_id),
        s AS (SELECT doc_id, {sh} AS sh FROM v),
        c0 AS (SELECT doc_id, sh, u.chunk_id,
                      (sh >> (u.chunk_id * 13)) & 8191 AS chunk
               FROM s, (SELECT unnest([0,1,2,3]) AS chunk_id) u),
        c AS (SELECT * FROM c0
              QUALIFY row_number() OVER (PARTITION BY chunk_id, chunk
                                         ORDER BY doc_id) <= {max_bucket}),
        pairs AS (
          SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
                 l.sh AS sha, r.sh AS shb
          FROM c l JOIN c r ON l.chunk_id = r.chunk_id AND l.chunk = r.chunk
                           AND l.doc_id < r.doc_id)
        SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
               CAST(bit_count(xor(sha, shb)) AS INT) AS hamming
        FROM pairs WHERE bit_count(xor(sha, shb)) <= {max_hamming}
    """


def _s2e_ctes(num_hashes: int = 12, bands: int = 6,
              seed: int = 42, jaccard: float = 0.6) -> str:
    """The surface->entity CTE chain (``surf`` .. ``s2e``) shared by the
    nkg_entities and nkg_entity_cooccurrence oracles: char 3-gram
    shingles -> md5 minhash -> banded LSH pairs -> exact-Jaccard verify
    -> connected components (recursive-CTE reachability over the surface
    STRINGS; component id = lexicographically-min surface — exactly the
    Spark star-join/union-find contract).  Expects a ``mentions`` CTE in
    scope and a WITH RECURSIVE prelude."""
    rows = num_hashes // bands
    return f"""surf AS (SELECT DISTINCT surface FROM mentions),
        shg AS (
          SELECT surface,
                 list_distinct(list_filter(list_transform(
                   range(0, greatest(length('^' || surface || '$') - 3, 0)
                            + 1),
                   i -> substr('^' || surface || '$', i + 1, 3)),
                   x -> length(x) = 3)) AS sh
          FROM surf),
        shf AS (SELECT * FROM shg WHERE len(sh) > 0),
        sig AS (
          SELECT surface, sh,
                 list_transform(range(0, {num_hashes}), h ->
                   list_aggregate(list_transform(sh, s ->
                     md5('{seed}|' || CAST(h AS VARCHAR) || '|' || s)),
                     'min')) AS sg
          FROM shf),
        banded AS (
          SELECT surface, sh, b.band_id,
                 md5(array_to_string(
                   sg[b.band_id * {rows} + 1 : b.band_id * {rows} + {rows}],
                   ',')) AS band_hash
          FROM sig, (SELECT unnest(range(0, {bands})) AS band_id) b),
        cand AS (
          SELECT DISTINCT l.surface AS sa, r.surface AS sb,
                 l.sh AS sha, r.sh AS shb
          FROM banded l JOIN banded r
            ON l.band_id = r.band_id AND l.band_hash = r.band_hash
               AND l.surface < r.surface),
        ver AS (
          SELECT sa, sb FROM cand
          WHERE CAST(len(list_intersect(sha, shb)) AS DOUBLE)
                / len(list_distinct(list_concat(sha, shb))) >= {jaccard}),
        und AS (SELECT sa AS ea, sb AS eb FROM ver
                UNION SELECT sb, sa FROM ver),
        enodes AS (SELECT DISTINCT ea AS n FROM und),
        reach(src, dst) AS (
          SELECT n, n FROM enodes
          UNION
          SELECT r.src, e.eb FROM reach r JOIN und e ON r.dst = e.ea),
        comp AS (SELECT src AS node, min(dst) AS component
                 FROM reach GROUP BY src),
        s2e AS (
          SELECT surf.surface,
                 COALESCE(comp.component, surf.surface) AS entity_id
          FROM surf LEFT JOIN comp ON surf.surface = comp.node)"""


def _entities_oracle_sql(num_hashes: int = 12, bands: int = 6,
                         seed: int = 42, jaccard: float = 0.6) -> str:
    """DuckDB twin of operators.canonicalize.canonicalize_entities —
    the shared s2e chain plus the per-entity aggregates."""
    return f"""
        WITH RECURSIVE {_MENTIONS_CTE},
        {_s2e_ctes(num_hashes, bands, seed, jaccard)}
        SELECT entity_id,
               min(surface) AS canonical_surface,
               CAST(count(DISTINCT surface) AS BIGINT) AS n_surfaces,
               CAST(count(*) AS BIGINT) AS n_mentions
        FROM mentions JOIN s2e USING (surface)
        GROUP BY entity_id
    """


_LANGS_SQL = """
  ('en', ['the','and','of','to','a','in','is','it','that','was']),
  ('de', ['der','die','das','und','ist','ein','nicht','mit','auf']),
  ('es', ['el','la','de','que','y','en','un','es','por','con']),
  ('fr', ['le','la','de','et','un','est','pour','que','dans'])
"""


def oracle_sql() -> dict[str, str]:
    return {
        "nkg_doc_assembly": f"""
            WITH {_TRANSCRIPTS_CTE}
            SELECT conv_id,
                   CAST(count(*) AS BIGINT) AS n_turns,
                   string_agg(text, ' ' ORDER BY turn_idx) AS doc_text
            FROM transcripts GROUP BY conv_id
        """,
        "nkg_turn_invariant": f"""
            WITH {_TRANSCRIPTS_CTE},
            docs AS (
              SELECT conv_id,
                     list(struct_pack(turn_idx := turn_idx, text := text)
                          ORDER BY turn_idx) AS turns
              FROM transcripts GROUP BY conv_id),
            rt AS (
              SELECT conv_id, unnest(turns) AS r FROM docs),
            flat AS (
              SELECT conv_id, r.turn_idx AS turn_idx, r.text AS text FROM rt)
            SELECT
              CAST((SELECT count(*) FROM transcripts s
                    JOIN flat f USING (conv_id, turn_idx)
                    WHERE s.text IS DISTINCT FROM f.text) AS BIGINT)
                AS mismatches,
              CAST((SELECT count(*) FROM transcripts) AS BIGINT) AS n_turns
        """,
        "nkg_mentions": f"""
            WITH {_MENTIONS_CTE}
            SELECT conv_id, turn_idx, start, "end", surface FROM mentions
        """,
        "nkg_entities": _entities_oracle_sql(),
        "nkg_gold_pipeline": """
            SELECT 1.0 AS p, 1.0 AS r, 1.0 AS q_p, 1.0 AS q_r,
                   CAST(count(*) AS BIGINT) AS correct_q,
                   CAST(count(*) AS BIGINT) AS num_q_ans
            FROM documents
        """,
        "nkg_gold_extract": f"""
            WITH {_GOLD_CORPUS_CTE}
            SELECT conv_id, turn_idx, CAST(0 AS INT) AS pred_idx,
                   CAST(spans[hi+1][1] AS INT) AS m1s,
                   CAST(spans[hi+1][2] AS INT) AS m1e,
                   CAST(spans[ti+1][1] AS INT) AS m2s,
                   CAST(spans[ti+1][2] AS INT) AS m2e,
                   rel,
                   CAST(spans[qi+1][1] AS INT) AS m3s,
                   CAST(spans[qi+1][2] AS INT) AS m3e,
                   qual,
                   surfs[hi+1] AS subj, surfs[ti+1] AS obj,
                   surfs[qi+1] AS value
            FROM b
        """,
        # --eval_unidirect ablation (run_re.py:1291): every ordering
        # decodes on its own raw logits.  With the gold scorer all 6
        # orderings direction-normalize to the planted fact and NMS keeps
        # one — the output equals the ensembled extraction exactly, so the
        # oracle is the same arithmetic (a broken unidirect path would
        # emit 6 rows per sentence or swapped spans and hash-mismatch)
        "nkg_gold_unidirect": f"""
            WITH {_GOLD_CORPUS_CTE}
            SELECT conv_id, turn_idx, CAST(0 AS INT) AS pred_idx,
                   CAST(spans[hi+1][1] AS INT) AS m1s,
                   CAST(spans[hi+1][2] AS INT) AS m1e,
                   CAST(spans[ti+1][1] AS INT) AS m2s,
                   CAST(spans[ti+1][2] AS INT) AS m2e,
                   rel,
                   CAST(spans[qi+1][1] AS INT) AS m3s,
                   CAST(spans[qi+1][2] AS INT) AS m3e,
                   qual,
                   surfs[hi+1] AS subj, surfs[ti+1] AS obj,
                   surfs[qi+1] AS value
            FROM b
        """,
        "nkg_gold_compacted": f"""
            WITH {_GOLD_CORPUS_CTE}
            SELECT conv_id, turn_idx,
                   sha256(concat_ws(chr(1), conv_id,
                          CAST(turn_idx AS VARCHAR), rel,
                          surfs[hi+1], surfs[ti+1])) AS fact_id,
                   rel, surfs[hi+1] AS subj, surfs[ti+1] AS obj,
                   CAST(3 AS INT) AS N,
                   '{{"N": 3, "relation": "' || rel || '", "subject": "'
                     || surfs[hi+1] || '", "object": "' || surfs[ti+1]
                     || '", "' || qual || '": ["' || surfs[qi+1] || '"]}}'
                     AS canonical_json
            FROM b
        """,
        "nkg_gold_event_extract": _gold_multi_oracle_sql("event"),
        "nkg_gold_role_extract": _gold_multi_oracle_sql("role"),
        "nkg_gold_hypergraph_extract": _gold_multi_oracle_sql("hypergraph"),
        "nkg_gold_pruned": f"""
            WITH {_GOLD_CORPUS_CTE}
            SELECT conv_id, turn_idx, CAST(0 AS INT) AS pred_idx,
                   CAST(spans[hi+1][1] AS INT) AS m1s,
                   CAST(spans[hi+1][2] AS INT) AS m1e,
                   CAST(spans[ti+1][1] AS INT) AS m2s,
                   CAST(spans[ti+1][2] AS INT) AS m2e,
                   rel,
                   CAST(spans[qi+1][1] AS INT) AS m3s,
                   CAST(spans[qi+1][2] AS INT) AS m3e,
                   qual,
                   surfs[hi+1] AS subj, surfs[ti+1] AS obj,
                   surfs[qi+1] AS value
            FROM b
            -- survives iff the subword count through the LAST mention plus
            -- the 2 subject markers fits the window (candidates.py
            -- enumerate_triples_subword; every other pruning bound is
            -- weaker): t2s[e2+1] + 2 < max_seq_length - 1 with
            -- max_seq_length = 20, t2s[e2+1] = 6 + (3+two)*pieces,
            -- pieces('ent'||d||x) = 2 + ceil(len(str(d))/2) at piece_len=2
            WHERE 8 + (3 + two) * (2 + CAST(ceil(
                    length(CAST(d AS VARCHAR)) / 2.0) AS INT)) < 19
        """,
        "nkg_fact_manifest": f"""
            WITH {_GOLD_CORPUS_CTE}
            SELECT 'facts' AS stage, CAST(d % 8 AS INT) AS part_id,
                   CAST(count(*) AS BIGINT) AS "rows",
                   bit_xor({_hex52_sql(
                       "concat_ws(chr(1), conv_id, "
                       "CAST(turn_idx AS VARCHAR), rel, surfs[hi+1], "
                       "surfs[ti+1], qual, surfs[qi+1])")})
                     AS content_hash
            FROM b GROUP BY d % 8
        """,
        "nkg_gold_compacted_conv": f"""
            WITH {_GOLD_CORPUS_CTE}
            SELECT conv_id, CAST(-1 AS INT) AS turn_idx,
                   sha256(concat_ws(chr(1), conv_id, rel,
                          surfs[hi+1], surfs[ti+1])) AS fact_id,
                   rel, surfs[hi+1] AS subj, surfs[ti+1] AS obj,
                   CAST(3 AS INT) AS N,
                   '{{"N": 3, "relation": "' || rel || '", "subject": "'
                     || surfs[hi+1] || '", "object": "' || surfs[ti+1]
                     || '", "' || qual || '": ["' || surfs[qi+1] || '"]}}'
                     AS canonical_json
            FROM b
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                     AS sum_qty,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
                     AS sum_base_price,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                        * (CAST(1 AS DECIMAL(18,4))
                           - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
                     AS sum_disc_price,
                   CAST(count(*) AS BIGINT) AS count_order,
                   round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                         / count(*), 4) AS avg_qty
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-01'
            GROUP BY l_returnflag, l_linestatus
        """,
        "revenue_by_nation": """
            SELECT n_name,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                        * (CAST(1 AS DECIMAL(18,4))
                           - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
                     AS revenue,
                   CAST(count(*) AS BIGINT) AS n_items
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey  = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "top_orders_per_customer": """
            SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
                   CAST(o_orderkey AS BIGINT) AS o_orderkey,
                   CAST(rn AS INT) AS rn
            FROM (
              SELECT o_custkey, o_orderkey,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice DESC, o_orderkey)
                       AS rn
              FROM orders)
            WHERE rn <= 3
        """,
        "orders_rollup": """
            SELECT o_orderstatus, o_orderpriority,
                   CAST(count(*) AS BIGINT) AS n_orders,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                     AS total_price
            FROM orders
            GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        """,
        "orders_cube": """
            SELECT o_orderstatus, o_orderpriority,
                   CAST(grouping(o_orderstatus) AS INT) AS g_status,
                   CAST(grouping(o_orderpriority) AS INT) AS g_priority,
                   CAST(count(*) AS BIGINT) AS n_orders,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                     AS total_price
            FROM orders
            GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """,
        "orders_grouping_sets": """
            SELECT o_orderstatus, o_orderpriority,
                   CAST(grouping(o_orderstatus) AS INT) AS g_status,
                   CAST(grouping(o_orderpriority) AS INT) AS g_priority,
                   CAST(count(*) AS BIGINT) AS n_orders,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                     AS total_price
            FROM orders
            GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                    (o_orderstatus), ())
        """,
        "orders_anti_join": """
            SELECT n_name, CAST(count(*) AS BIGINT) AS n_customers
            FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey
                                AND o.o_orderpriority = '1-URGENT')
            GROUP BY n_name
        """,
        "window_functions": """
            SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
                   CAST(o_orderkey AS BIGINT) AS o_orderkey,
                   CAST(row_number() OVER w AS INT) AS rn,
                   CAST(rank() OVER w AS INT) AS rnk,
                   CAST(ntile(4) OVER w AS INT) AS quartile,
                   cume_dist() OVER w AS cume,
                   percent_rank() OVER w AS prank,
                   CAST(COALESCE(epoch_us(o_orderdate)
                        - epoch_us(lag(o_orderdate) OVER w), -1) AS BIGINT)
                     AS gap_us
            FROM orders WHERE o_custkey < 200
            WINDOW w AS (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey)
        """,
        "scalar_functions": """
            SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
                   CAST(year(o_orderdate) AS INT) AS yr,
                   CAST(month(o_orderdate) AS INT) AS mo,
                   CAST(day(o_orderdate) AS INT) AS dom,
                   CAST(quarter(o_orderdate) AS INT) AS qtr,
                   CAST(date_diff('day', DATE '2020-01-01',
                                  CAST(o_orderdate AS DATE)) AS INT)
                     AS days_since,
                   upper(substr(o_orderpriority, 1, 8)) AS prio_u,
                   CAST(length(o_orderpriority) AS INT) AS prio_len,
                   lpad(o_orderstatus, 3, '_') AS status_pad,
                   o_orderstatus || '#' || CAST(o_orderkey AS VARCHAR)
                     AS tag,
                   abs(o_totalprice - 100000.0) AS abs_diff,
                   CAST(o_orderkey % 7 AS BIGINT) AS mod7,
                   greatest(o_totalprice, CAST(50000.0 AS DOUBLE))
                     AS floor50k,
                   CASE o_orderstatus WHEN 'F' THEN 'final'
                        WHEN 'O' THEN 'open' ELSE 'partial' END
                     AS status_word
            FROM orders WHERE o_orderkey < 1000
        """,
        "orders_except_all": """
            SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus
            FROM orders WHERE o_orderpriority = '1-URGENT'
            EXCEPT ALL
            SELECT CAST(o_orderkey AS BIGINT), o_orderstatus
            FROM orders WHERE o_orderpriority = '1-URGENT'
                          AND o_totalprice > 150000
        """,
        "events_sessionize": """
            WITH s AS (
              SELECT user_id, event_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                               OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            g AS (
              SELECT user_id,
                     sum(new_sess) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS session_id
              FROM s)
            SELECT CAST(user_id AS BIGINT) AS user_id,
                   CAST(max(session_id) AS BIGINT) AS n_sessions,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM g GROUP BY user_id
        """,
        "events_hourly": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour,
                   event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   round(avg(value), 4) AS avg_value
            FROM events GROUP BY 1, 2
        """,
        # regex-extracted k is value-equivalent to the engine's
        # get_json_object on this corpus (every props row is {"k": <int>},
        # asserted in tests) — the oracle avoids DuckDB's json extension
        # so a missing autoload can never turn a green entry into an error
        "events_json_stats": """
            WITH e AS (
              SELECT event_type,
                     CAST(regexp_extract(props, '"k": (-?[0-9]+)', 1)
                          AS BIGINT) AS k
              FROM events)
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(k) AS BIGINT) AS sum_k,
                   CAST(min(k) AS BIGINT) AS min_k,
                   CAST(max(k) AS BIGINT) AS max_k,
                   CAST(count(DISTINCT k) AS BIGINT) AS n_distinct_k
            FROM e GROUP BY event_type
        """,
        # integer epoch-MICROS comparisons (events ts carries sub-second
        # precision; unix_timestamp truncation diverges the engines)
        "events_funnel": """
            WITH ev AS (
              SELECT user_id, event_type,
                     epoch_us(CAST(ts AS TIMESTAMP)) AS us
              FROM events),
            v AS (SELECT user_id, min(us) AS t1 FROM ev
                  WHERE event_type = 'view' GROUP BY user_id),
            c AS (SELECT e.user_id, min(e.us) AS t2
                  FROM ev e JOIN v USING (user_id)
                  WHERE e.event_type = 'click' AND e.us > v.t1
                  GROUP BY e.user_id),
            p AS (SELECT e.user_id, min(e.us) AS t3
                  FROM ev e JOIN c USING (user_id)
                  WHERE e.event_type = 'purchase' AND e.us > c.t2
                  GROUP BY e.user_id)
            SELECT '1_view' AS stage, CAST(count(*) AS BIGINT) AS n_users
            FROM v
            UNION ALL
            SELECT '2_click', CAST(count(*) AS BIGINT) FROM c
            UNION ALL
            SELECT '3_purchase', CAST(count(*) AS BIGINT) FROM p
        """,
        "orders_cohort_retention": """
            WITH o AS (
              SELECT o_custkey,
                     CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1
                          AS BIGINT) AS ym
              FROM orders),
            f AS (SELECT o_custkey, min(ym) AS cohort_ym
                  FROM o GROUP BY o_custkey)
            SELECT f.cohort_ym,
                   o.ym - f.cohort_ym AS months_since,
                   CAST(count(DISTINCT o.o_custkey) AS BIGINT)
                     AS n_customers
            FROM o JOIN f USING (o_custkey)
            GROUP BY 1, 2
        """,
        # latest-wins merge: identical UNION ALL + QUALIFY recurrence
        "orders_merge_upsert": """
            WITH upd AS (
              SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
                     o_totalprice + 1000.0 AS o_totalprice,
                     o_orderdate, o_orderpriority
              FROM orders WHERE o_orderkey % 10 = 0
              UNION ALL
              SELECT o_orderkey + 10000000, o_custkey, 'N',
                     o_totalprice, o_orderdate, o_orderpriority
              FROM orders WHERE o_orderkey % 97 = 0),
            tagged AS (
              SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                     o_orderdate, o_orderpriority, 0 AS v FROM orders
              UNION ALL
              SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                     o_orderdate, o_orderpriority, 1 AS v FROM upd),
            m AS (
              SELECT * FROM tagged
              QUALIFY row_number() OVER (PARTITION BY o_orderkey
                                         ORDER BY v DESC) = 1)
            SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
                   CAST(o_custkey AS BIGINT) AS o_custkey,
                   o_orderstatus, o_totalprice,
                   epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS od_us,
                   o_orderpriority
            FROM m
        """,
        # CDC: rebuild the merged snapshot (same recurrence as the
        # merge_upsert oracle), then a FULL OUTER JOIN diff with
        # IS DISTINCT FROM per value column (null-safe, like the
        # engine's eqNullSafe struct comparison)
        "orders_snapshot_diff": """
            WITH b AS (
              SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                     o_orderdate, o_orderpriority
              FROM orders),
            upd AS (
              SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
                     o_totalprice + 1000.0 AS o_totalprice,
                     o_orderdate, o_orderpriority
              FROM b WHERE o_orderkey % 10 = 0
              UNION ALL
              SELECT o_orderkey + 10000000, o_custkey, 'N',
                     o_totalprice, o_orderdate, o_orderpriority
              FROM b WHERE o_orderkey % 97 = 0),
            tagged AS (
              SELECT *, 0 AS v FROM b
              UNION ALL
              SELECT *, 1 AS v FROM upd),
            nw AS (
              SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                     o_orderdate, o_orderpriority
              FROM tagged
              QUALIFY row_number() OVER (PARTITION BY o_orderkey
                                         ORDER BY v DESC) = 1),
            d AS (
              SELECT coalesce(n.o_orderkey, b.o_orderkey) AS o_orderkey,
                     CASE WHEN b.o_orderkey IS NULL THEN 'I'
                          WHEN n.o_orderkey IS NULL THEN 'D'
                          WHEN (b.o_custkey IS DISTINCT FROM n.o_custkey)
                            OR (b.o_orderstatus
                                IS DISTINCT FROM n.o_orderstatus)
                            OR (b.o_totalprice
                                IS DISTINCT FROM n.o_totalprice)
                            OR (b.o_orderdate
                                IS DISTINCT FROM n.o_orderdate)
                            OR (b.o_orderpriority
                                IS DISTINCT FROM n.o_orderpriority)
                          THEN 'U' END AS change_type,
                     coalesce(n.o_custkey, b.o_custkey) AS o_custkey,
                     CASE WHEN n.o_orderkey IS NOT NULL
                          THEN n.o_orderstatus
                          ELSE b.o_orderstatus END AS o_orderstatus,
                     CASE WHEN n.o_orderkey IS NOT NULL
                          THEN n.o_totalprice
                          ELSE b.o_totalprice END AS o_totalprice,
                     CASE WHEN n.o_orderkey IS NOT NULL
                          THEN n.o_orderdate
                          ELSE b.o_orderdate END AS o_orderdate,
                     CASE WHEN n.o_orderkey IS NOT NULL
                          THEN n.o_orderpriority
                          ELSE b.o_orderpriority END AS o_orderpriority
              FROM b FULL OUTER JOIN nw n
                ON b.o_orderkey = n.o_orderkey)
            SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, change_type,
                   CAST(o_custkey AS BIGINT) AS o_custkey,
                   o_orderstatus, o_totalprice,
                   epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS od_us,
                   o_orderpriority
            FROM d WHERE change_type IS NOT NULL
        """,
        # every event in exactly two epoch-aligned 30-min-slide starts;
        # the containment predicate is the general hopping-window rule
        "events_sliding_window": """
            WITH ev AS (
              SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                     event_type, user_id
              FROM events),
            x AS (
              SELECT us, event_type, user_id,
                     unnest([(us // 1800000000) * 1800000000,
                             (us // 1800000000) * 1800000000
                               - 1800000000]) AS win_start_us
              FROM ev)
            SELECT win_start_us, event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
            FROM x
            WHERE us >= win_start_us AND us < win_start_us + 3600000000
            GROUP BY 1, 2
        """,
        # the PLAIN unsalted join: the salt must be routing-only, so the
        # driver hash-check proves the skew plan result-equivalent
        "lineitem_salted_join": """
            SELECT o.o_orderpriority,
                   CAST(count(*) AS BIGINT) AS n_lines,
                   CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4)))
                        AS DOUBLE) AS gross,
                   CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(18,4))
                                 * CAST(l.l_discount AS DECIMAL(18,4))
                                 AS DECIMAL(28,8)))
                        AS DOUBLE) AS discount_amt
            FROM lineitem l JOIN orders o
              ON l.l_orderkey = o.o_orderkey
            GROUP BY o.o_orderpriority
        """,
        # identical planting (doc_id arithmetic), identical RE2/Java-safe
        # patterns; the md5 of the redacted text proves the replacement
        # is byte-identical, not just the counts
        "text_pii_scrub": """
            WITH planted AS (
              SELECT doc_id,
                     text
                     || CASE WHEN doc_id % 3 = 0
                             THEN ' reach user' || CAST(doc_id AS VARCHAR)
                                  || '@example.com' ELSE '' END
                     || CASE WHEN doc_id % 5 = 0
                             THEN ' call 555-'
                                  || lpad(CAST(doc_id % 1000 AS VARCHAR),
                                          3, '0')
                                  || '-'
                                  || lpad(CAST(doc_id % 10000 AS VARCHAR),
                                          4, '0')
                             ELSE '' END AS text
              FROM documents),
            s AS (
              SELECT doc_id, text,
                     regexp_replace(regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                       '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')
                       AS redacted
              FROM planted)
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(len(regexp_extract_all(text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                     AS BIGINT) AS n_emails,
                   CAST(len(regexp_extract_all(text,
                     '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
                   CAST(len(redacted) AS BIGINT) AS red_len,
                   md5(redacted) AS red_fp
            FROM s
        """,
        # degree-oriented compact-forward triangle enumeration — the rank
        # (degree, node) is total, so the orientation (and therefore every
        # wedge) is engine-exact
        "nkg_triangles": f"""
            WITH {_MENTIONS_CTE},
            gsd AS (SELECT DISTINCT conv_id, surface FROM mentions),
            gs AS (SELECT conv_id, surface FROM gsd
                   QUALIFY row_number() OVER (PARTITION BY conv_id
                                              ORDER BY surface) <= 256),
            e AS (
              SELECT a.surface AS sa, b.surface AS sb
              FROM gs a JOIN gs b
                ON a.conv_id = b.conv_id AND a.surface < b.surface
              GROUP BY 1, 2),
            deg AS (
              SELECT node, CAST(count(*) AS BIGINT) AS d
              FROM (SELECT sa AS node FROM e
                    UNION ALL SELECT sb FROM e)
              GROUP BY node),
            o AS (
              SELECT CASE WHEN da.d < db.d
                               OR (da.d = db.d AND e.sa < e.sb)
                          THEN e.sa ELSE e.sb END AS src,
                     CASE WHEN da.d < db.d
                               OR (da.d = db.d AND e.sa < e.sb)
                          THEN e.sb ELSE e.sa END AS dst,
                     CASE WHEN da.d < db.d
                               OR (da.d = db.d AND e.sa < e.sb)
                          THEN db.d ELSE da.d END AS dd
              FROM e JOIN deg da ON e.sa = da.node
                     JOIN deg db ON e.sb = db.node),
            w AS (
              SELECT e1.src, e1.dst AS m, e2.dst AS n
              FROM o e1 JOIN o e2 ON e1.src = e2.src
              WHERE e1.dd < e2.dd
                 OR (e1.dd = e2.dd AND e1.dst < e2.dst)),
            t AS (
              SELECT w.src, w.m, w.n
              FROM w JOIN o e3 ON e3.src = w.m AND e3.dst = w.n)
            SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
            FROM (SELECT src AS node FROM t
                  UNION ALL SELECT m FROM t
                  UNION ALL SELECT n FROM t)
            GROUP BY node
        """,
        # fixed-round k-core peeling (k=2, 3 rounds) — one degree CTE +
        # one both-ends-survive filter per round, chained exactly like
        # graph.kcore_nodes' loop; survivors reported with in-core degree
        "nkg_kcore": f"""
            WITH {_MENTIONS_CTE},
            gsd AS (SELECT DISTINCT conv_id, surface FROM mentions),
            gs AS (SELECT conv_id, surface FROM gsd
                   QUALIFY row_number() OVER (PARTITION BY conv_id
                                              ORDER BY surface) <= 256),
            e0 AS (
              SELECT a.surface AS sa, b.surface AS sb
              FROM gs a JOIN gs b
                ON a.conv_id = b.conv_id AND a.surface < b.surface
              GROUP BY 1, 2),
            d1 AS (SELECT node, count(*) AS d
                   FROM (SELECT sa AS node FROM e0
                         UNION ALL SELECT sb FROM e0) GROUP BY node),
            k1 AS (SELECT node FROM d1 WHERE d >= 2),
            e1 AS (SELECT sa, sb FROM e0
                   WHERE sa IN (SELECT node FROM k1)
                     AND sb IN (SELECT node FROM k1)),
            d2 AS (SELECT node, count(*) AS d
                   FROM (SELECT sa AS node FROM e1
                         UNION ALL SELECT sb FROM e1) GROUP BY node),
            k2 AS (SELECT node FROM d2 WHERE d >= 2),
            e2 AS (SELECT sa, sb FROM e1
                   WHERE sa IN (SELECT node FROM k2)
                     AND sb IN (SELECT node FROM k2)),
            d3 AS (SELECT node, count(*) AS d
                   FROM (SELECT sa AS node FROM e2
                         UNION ALL SELECT sb FROM e2) GROUP BY node),
            k3 AS (SELECT node FROM d3 WHERE d >= 2),
            e3 AS (SELECT sa, sb FROM e2
                   WHERE sa IN (SELECT node FROM k3)
                     AND sb IN (SELECT node FROM k3))
            SELECT node, CAST(count(*) AS BIGINT) AS core_degree
            FROM (SELECT sa AS node FROM e3
                  UNION ALL SELECT sb FROM e3)
            GROUP BY node
        """,
        # complex-type library twin: list/struct/map expressions mirrored
        # op-for-op (list_sort == array_sort ASC on non-NULL doubles,
        # list_reduce left fold == F.aggregate, map extraction unwrapped
        # with [1] — DuckDB map[] yields a one-element list)
        "complex_type_functions": """
            WITH li AS (
              SELECT *, list_value(CAST(l_quantity AS DOUBLE),
                                   CAST(l_extendedprice AS DOUBLE),
                                   CAST(l_discount AS DOUBLE),
                                   CAST(l_tax AS DOUBLE)) AS arr,
                     list_value(l_returnflag, l_linestatus,
                                l_returnflag || l_linestatus) AS tags
              FROM lineitem
              WHERE l_orderkey < 2000
                AND l_quantity IS NOT NULL
                AND l_extendedprice IS NOT NULL
                AND l_discount IS NOT NULL AND l_tax IS NOT NULL
                AND l_returnflag IS NOT NULL
                AND l_linestatus IS NOT NULL),
            s AS (SELECT *, list_sort(arr) AS sarr FROM li)
            SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
                   CAST(l_linenumber AS BIGINT) AS l_linenumber,
                   sarr[2] AS second_smallest,
                   sarr[-1] AS largest,
                   CAST(len(list_distinct(tags)) AS INT)
                     AS n_distinct_tags,
                   CAST(list_position(sarr, CAST(l_discount AS DOUBLE))
                        AS BIGINT) AS discount_rank,
                   CAST(len(list_filter(arr, x -> x > 1.0)) AS INT)
                     AS n_over_one,
                   list_reduce(list_prepend(0.0, arr), (a, x) -> a + x)
                     AS fold_sum,
                   CAST(list_contains(tags, 'NO') AS INT) AS has_no,
                   array_to_string(tags[1:2], '|') AS tag_prefix,
                   (MAP {'q': CAST(l_quantity AS DOUBLE),
                         't': CAST(l_tax AS DOUBLE)})['t'][1] AS map_tax,
                   (struct_pack(f := l_returnflag,
                                s := l_linestatus)).f AS struct_flag
            FROM s
        """,
        # grid regenerated with unnest(generate_series) on integer
        # epoch-micros; bucket representative = max(struct(us, id, v))
        # (ties impossible past the unique id); fill = last_value
        # IGNORE NULLS over the same total order
        "events_resample_ffill": """
            WITH ev AS (
              SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                     event_id, value
              FROM events WHERE user_id % 10 = 0),
            obs AS (
              SELECT user_id, us - (us % 3600000000) AS bucket_us,
                     (max(struct_pack(us := us, id := event_id,
                                      v := value))).v AS v
              FROM ev GROUP BY 1, 2),
            g AS (SELECT user_id, min(bucket_us) AS mn,
                         max(bucket_us) AS mx
                  FROM obs GROUP BY user_id),
            grid AS (
              SELECT user_id,
                     unnest(generate_series(mn, mx, 3600000000))
                       AS bucket_us
              FROM g),
            j AS (
              SELECT grid.user_id, grid.bucket_us, obs.v
              FROM grid LEFT JOIN obs USING (user_id, bucket_us))
            SELECT CAST(user_id AS BIGINT) AS user_id, bucket_us,
                   last_value(v IGNORE NULLS) OVER (
                     PARTITION BY user_id ORDER BY bucket_us
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS value,
                   CAST(CASE WHEN v IS NULL THEN 1 ELSE 0 END AS INT)
                     AS is_gap
            FROM j
        """,
        # SymSpell deletion-neighborhood blocking + levenshtein verify;
        # DISTINCT (k, var) mirrors the engine's array_union dedup, the
        # QUALIFY mirrors cap_bucket_width's 64-wide deterministic cap
        "nkg_fuzzy_surfaces": """
            WITH s AS (
              SELECT DISTINCT 'ent' || CAST(doc_id AS VARCHAR) || sfx AS k
              FROM documents, (VALUES ('a'), ('c'), ('d')) t(sfx)),
            vr AS (
              SELECT DISTINCT k, var FROM (
                SELECT k,
                       unnest(list_prepend(k, list_transform(
                         range(0, len(k)),
                         i -> substr(k, 1, i) || substr(k, i + 2))))
                         AS var
                FROM s)),
            capped AS (
              SELECT k, var FROM vr
              QUALIFY row_number() OVER (PARTITION BY var
                                         ORDER BY k) <= 64),
            cand AS (
              SELECT DISTINCT a.k AS key_a, b.k AS key_b
              FROM capped a JOIN capped b
                ON a.var = b.var AND a.k < b.k)
            SELECT key_a, key_b FROM cand
            WHERE levenshtein(key_a, key_b) <= 1
        """,
        # sequence order pinned total by (epoch-micros, event_id);
        # NULL-ts rows dropped pre-window (Spark NULLS FIRST vs DuckDB
        # NULLS LAST would diverge the sequences on dirty data)
        "events_transitions": """
            WITH ev AS (
              SELECT user_id, event_type,
                     epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id
              FROM events
              WHERE epoch_us(CAST(ts AS TIMESTAMP)) IS NOT NULL),
            s AS (
              SELECT event_type AS next_type,
                     lag(event_type) OVER (PARTITION BY user_id
                                           ORDER BY us, event_id)
                       AS prev_type
              FROM ev)
            SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
            FROM s WHERE prev_type IS NOT NULL
            GROUP BY 1, 2
        """,
        # SCD2 history build: run starts by null-safe lag compare
        # (IS DISTINCT FROM == Spark's ~eqNullSafe), intervals closed by
        # lead over the surviving run starts, -1 sentinel on the open
        # version (never NULL — NULL sort order differs across engines)
        "events_scd2": """
            WITH ev AS (
              SELECT user_id AS key, event_type AS attr,
                     epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id AS id
              FROM events
              WHERE epoch_us(CAST(ts AS TIMESTAMP)) IS NOT NULL),
            m AS (
              SELECT key, attr, us, id,
                     lag(attr) OVER w AS prev,
                     lag(1) OVER w AS prev_seen
              FROM ev WINDOW w AS (PARTITION BY key ORDER BY us, id)),
            s AS (
              SELECT * FROM m
              WHERE prev_seen IS NULL OR attr IS DISTINCT FROM prev)
            SELECT CAST(key AS BIGINT) AS user_id, attr AS event_type,
                   us AS eff_from_us,
                   coalesce(lead(us) OVER w2, CAST(-1 AS BIGINT))
                     AS eff_to_us,
                   CAST(row_number() OVER w2 AS BIGINT) AS version
            FROM s WINDOW w2 AS (PARTITION BY key ORDER BY us, id)
        """,
        # interval self-overlap: the plain theta-join the engine's
        # bucketed plan must reproduce pair-for-pair; duration is the
        # IDENTICAL single multiply (value * 60000000.0) then floor, so
        # IEEE rounding matches the engine's F.floor(value * lit)
        "events_interval_overlap": """
            WITH iv0 AS (
              SELECT event_id AS id, user_id AS key,
                     epoch_us(CAST(ts AS TIMESTAMP)) AS s,
                     epoch_us(CAST(ts AS TIMESTAMP))
                       + CAST(floor(value * 60000000.0) AS BIGINT) AS e
              FROM events WHERE value IS NOT NULL),
            iv AS (
              SELECT * FROM iv0
              WHERE key IS NOT NULL AND s IS NOT NULL
                AND e IS NOT NULL AND s <= e)
            SELECT CAST(a.key AS BIGINT) AS user_id,
                   CAST(least(a.id, b.id) AS BIGINT) AS ev_a,
                   CAST(greatest(a.id, b.id) AS BIGINT) AS ev_b,
                   least(a.e, b.e) - greatest(a.s, b.s) AS overlap_us
            FROM iv a JOIN iv b
              ON a.key = b.key AND a.id < b.id
             AND a.s <= b.e AND b.s <= a.e
        """,
        # one-pass profiler twin: one SELECT per column UNION ALL'd —
        # numeric min/max cast to double AFTER the native min/max,
        # string min/max never number-formatted (float rendering is
        # engine-specific); n_distinct is the exact COUNT(DISTINCT)
        "orders_profile": """
            WITH o AS (
              SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
                     o_orderpriority,
                     epoch_us(CAST(o_orderdate AS TIMESTAMP))
                       AS o_orderdate_us
              FROM orders)
            SELECT 'o_orderkey' AS "column",
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(count(*) - count(o_orderkey) AS BIGINT) AS n_nulls,
                   CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
                   CAST(min(o_orderkey) AS DOUBLE) AS min_d,
                   CAST(max(o_orderkey) AS DOUBLE) AS max_d,
                   CAST(NULL AS VARCHAR) AS min_s,
                   CAST(NULL AS VARCHAR) AS max_s
            FROM o
            UNION ALL
            SELECT 'o_custkey', CAST(count(*) AS BIGINT),
                   CAST(count(*) - count(o_custkey) AS BIGINT),
                   CAST(count(DISTINCT o_custkey) AS BIGINT),
                   CAST(min(o_custkey) AS DOUBLE),
                   CAST(max(o_custkey) AS DOUBLE), NULL, NULL
            FROM o
            UNION ALL
            SELECT 'o_totalprice', CAST(count(*) AS BIGINT),
                   CAST(count(*) - count(o_totalprice) AS BIGINT),
                   CAST(count(DISTINCT o_totalprice) AS BIGINT),
                   CAST(min(o_totalprice) AS DOUBLE),
                   CAST(max(o_totalprice) AS DOUBLE), NULL, NULL
            FROM o
            UNION ALL
            SELECT 'o_orderstatus', CAST(count(*) AS BIGINT),
                   CAST(count(*) - count(o_orderstatus) AS BIGINT),
                   CAST(count(DISTINCT o_orderstatus) AS BIGINT),
                   NULL, NULL, min(o_orderstatus), max(o_orderstatus)
            FROM o
            UNION ALL
            SELECT 'o_orderpriority', CAST(count(*) AS BIGINT),
                   CAST(count(*) - count(o_orderpriority) AS BIGINT),
                   CAST(count(DISTINCT o_orderpriority) AS BIGINT),
                   NULL, NULL, min(o_orderpriority), max(o_orderpriority)
            FROM o
            UNION ALL
            SELECT 'o_orderdate_us', CAST(count(*) AS BIGINT),
                   CAST(count(*) - count(o_orderdate_us) AS BIGINT),
                   CAST(count(DISTINCT o_orderdate_us) AS BIGINT),
                   CAST(min(o_orderdate_us) AS DOUBLE),
                   CAST(max(o_orderdate_us) AS DOUBLE), NULL, NULL
            FROM o
        """,
        # window frames: ROWS 2-preceding moving aggregates on the total
        # (us, id) order; RANGE trailing-1h count on the numeric micros
        # key (tie rows enter together — order-stable without a
        # tiebreak); DECIMAL moving sum is exact so frame-internal order
        # cannot matter
        "events_window_frames": """
            WITH ev AS (
              SELECT user_id, event_id,
                     epoch_us(CAST(ts AS TIMESTAMP)) AS us, value
              FROM events
              WHERE epoch_us(CAST(ts AS TIMESTAMP)) IS NOT NULL)
            SELECT CAST(user_id AS BIGINT) AS user_id,
                   CAST(event_id AS BIGINT) AS event_id,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w3
                        AS DOUBLE) AS mov_sum3,
                   min(value) OVER w3 AS mov_min3,
                   max(value) OVER w3 AS mov_max3,
                   CAST(count(*) OVER wh AS BIGINT) AS n_last_hour
            FROM ev
            WINDOW w3 AS (PARTITION BY user_id ORDER BY us, event_id
                          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
                   wh AS (PARTITION BY user_id ORDER BY us
                          RANGE BETWEEN 3600000000 PRECEDING
                          AND CURRENT ROW)
        """,
        # width-10 histogram: floor of one correctly-rounded IEEE
        # division, DECIMAL(18,2)-exact sums, double only at the end
        "events_value_histogram": """
            SELECT CAST(floor(value / 10.0) AS BIGINT) AS bin,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                     AS sum_value
            FROM events WHERE value IS NOT NULL
            GROUP BY 1
        """,
        "dedup_exact": """
            SELECT md5(substr(trim(regexp_replace(lower(text),
                       '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')), 1, 30))
                     AS content_hash,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(min(doc_id) AS BIGINT) AS keeper
            FROM documents GROUP BY 1
        """,
        "dedup_minhash_signature": """
            WITH base AS (
              SELECT doc_id,
                     string_split(trim(regexp_replace(lower(text),
                       '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')), ' ') AS toks
              FROM documents),
            sh AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       range(1, len(toks) - 1),
                       i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))
                       AS shingles
              FROM base WHERE len(toks) >= 3)
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   list_aggregate(list_transform(shingles,
                     s -> md5('0|' || s)), 'min') AS sig0,
                   list_aggregate(list_transform(shingles,
                     s -> md5('1|' || s)), 'min') AS sig1
            FROM sh
        """,
        "dedup_ngram_jaccard": """
            WITH base AS (
              SELECT doc_id, lang,
                     len(text) // 64 AS lb,
                     string_split(trim(regexp_replace(lower(text),
                       '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')), ' ') AS toks
              FROM documents),
            sh0 AS (
              SELECT doc_id, lang, lb,
                     list_distinct(list_transform(
                       range(1, len(toks)),
                       i -> toks[i] || ' ' || toks[i+1])) AS grams
              FROM base WHERE len(toks) >= 2),
            sh AS (
              SELECT * FROM sh0
              QUALIFY row_number() OVER (PARTITION BY lang, lb
                                         ORDER BY doc_id) <= 32)
            SELECT CAST(l.doc_id AS BIGINT) AS a,
                   CAST(r.doc_id AS BIGINT) AS b,
                   CAST(len(list_intersect(l.grams, r.grams)) AS DOUBLE)
                     / len(list_distinct(list_concat(l.grams, r.grams)))
                     AS jaccard
            FROM sh l JOIN sh r
              ON l.lang = r.lang AND l.lb = r.lb AND l.doc_id < r.doc_id
            WHERE CAST(len(list_intersect(l.grams, r.grams)) AS DOUBLE)
                  / len(list_distinct(list_concat(l.grams, r.grams))) >= 0.4
        """,
        "text_quality": """
            WITH base AS (
              SELECT doc_id, text,
                     string_split(trim(regexp_replace(lower(text),
                       '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')), ' ') AS toks
              FROM documents)
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(len(toks) AS BIGINT) AS n_tokens,
                   round(CAST(list_sum(list_transform(toks, t -> len(t)))
                              AS DOUBLE) / greatest(len(toks), 1), 6)
                     AS mean_word_len,
                   round(CAST(len(text) - len(regexp_replace(text,
                         '[^\\w\\s]', '', 'g')) AS DOUBLE)
                         / greatest(len(text), 1), 6) AS punct_ratio,
                   round(CAST(len(list_distinct(toks)) AS DOUBLE)
                         / greatest(len(toks), 1), 6) AS uniq_token_ratio
            FROM base
        """,
        "text_langid": f"""
            WITH base AS (
              SELECT doc_id,
                     string_split(trim(regexp_replace(lower(text),
                       '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')), ' ') AS toks
              FROM documents),
            langs(lang, words) AS (VALUES {_LANGS_SQL}),
            scored AS (
              SELECT doc_id, lang,
                     CAST(len(list_intersect(list_distinct(toks), words))
                          AS DOUBLE) / greatest(len(toks), 1) AS score
              FROM base CROSS JOIN langs),
            ranked AS (
              SELECT doc_id, lang, score,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY score DESC, lang DESC) AS rn
              FROM scored)
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CASE WHEN score > 0 THEN lang ELSE 'und' END AS lang_pred,
                   round(score, 6) AS lang_score
            FROM ranked WHERE rn = 1
        """,
        "text_token_counts": """
            WITH base AS (
              SELECT doc_id,
                     string_split(trim(regexp_replace(lower(text),
                       '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')), ' ') AS toks,
                     regexp_extract_all(lower(text),
                       '[a-z]+|[0-9]+|[^a-z0-9\\s]') AS pieces
              FROM documents)
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(len(toks) AS BIGINT) AS ws_tokens,
                   CAST(len(pieces) AS BIGINT) AS subword_pieces,
                   CAST(len(pieces)
                        + len(list_filter(pieces, p -> len(p) > 6))
                        AS BIGINT) AS est_bpe_tokens
            FROM base
        """,
        "text_fingerprint": """
            WITH base AS (
              SELECT doc_id,
                     string_split(trim(regexp_replace(lower(text),
                       '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')), ' ') AS toks
              FROM documents),
            g AS (
              SELECT doc_id,
                     list_transform(range(1, len(toks) - 3),
                       i -> md5(concat_ws(' ', toks[i], toks[i+1], toks[i+2],
                                          toks[i+3], toks[i+4]))) AS grams
              FROM base WHERE len(toks) >= 5)
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   list_aggregate(grams, 'min') AS fp_min,
                   list_aggregate(grams, 'max') AS fp_max
            FROM g
        """,
        # top gram = max count, ties -> lexicographically smallest gram:
        # min(struct(-n, gram)) — same struct comparison order in both
        # engines; fractions are single int/int IEEE divisions
        "text_repetition": """
            WITH base AS (
              SELECT doc_id,
                     string_split(trim(regexp_replace(lower(text),
                       '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')), ' ') AS toks
              FROM documents
              WHERE trim(regexp_replace(lower(text),
                       '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')) <> ''),
            uni AS (SELECT doc_id, unnest(toks) AS gram FROM base),
            bi AS (
              SELECT doc_id,
                     unnest(list_transform(range(1, len(toks)),
                       i -> toks[i] || ' ' || toks[i+1])) AS gram
              FROM base),
            uc AS (SELECT doc_id, gram, count(*) AS n
                   FROM uni GROUP BY doc_id, gram),
            bc AS (SELECT doc_id, gram, count(*) AS n
                   FROM bi GROUP BY doc_id, gram),
            ua AS (SELECT doc_id,
                          CAST(sum(n) AS BIGINT) AS n_words,
                          CAST(count(*) AS BIGINT) AS n_distinct_words,
                          min(struct_pack(neg := -n, g := gram)) AS b
                   FROM uc GROUP BY doc_id),
            ba AS (SELECT doc_id,
                          CAST(sum(n) AS BIGINT) AS n_bigrams,
                          CAST(count(*) AS BIGINT) AS n_distinct_bigrams,
                          min(struct_pack(neg := -n, g := gram)) AS b
                   FROM bc GROUP BY doc_id)
            SELECT ua.doc_id, ua.n_words, ua.n_distinct_words,
                   (ua.b).g AS top_word,
                   CAST(-(ua.b).neg AS BIGINT) AS top_word_n,
                   ba.n_bigrams, ba.n_distinct_bigrams,
                   (ba.b).g AS top_bigram,
                   CAST(-(ba.b).neg AS BIGINT) AS top_bigram_n,
                   CAST(-(ua.b).neg AS BIGINT) / ua.n_words
                     AS top_word_frac,
                   CAST(-(ba.b).neg AS BIGINT) / ba.n_bigrams
                     AS top_bigram_frac,
                   ua.n_distinct_words / ua.n_words AS distinct_word_ratio
            FROM ua LEFT JOIN ba ON ua.doc_id = ba.doc_id
        """,
        # benchmark = doc_id % 97 == 0; overlap over DISTINCT trigram
        # shingles; the 0.5 threshold is CAST to DOUBLE (a bare literal
        # parses as DECIMAL in DuckDB and compares differently)
        "text_contamination": """
            WITH base AS (
              SELECT doc_id,
                     string_split(trim(regexp_replace(lower(text),
                       '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')), ' ') AS toks
              FROM documents),
            tri AS (
              SELECT doc_id,
                     unnest(list_transform(range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                       AS gram
              FROM base),
            bench AS (SELECT DISTINCT gram FROM tri WHERE doc_id % 97 = 0),
            cand AS (SELECT DISTINCT doc_id, gram FROM tri
                     WHERE doc_id % 97 <> 0)
            SELECT CAST(c.doc_id AS BIGINT) AS doc_id,
                   CAST(count(*) AS BIGINT) AS n_shingles,
                   CAST(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_overlap,
                   CAST(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) / count(*) AS overlap_frac,
                   (CAST(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END)
                         AS BIGINT) / count(*)) >= CAST(0.5 AS DOUBLE)
                     AS contaminated
            FROM cand c LEFT JOIN bench b USING (gram)
            GROUP BY c.doc_id
        """,
        # UNPIVOT as its portable UNION ALL expansion — values pass
        # through unchanged, so doubles are bit-exact
        "lineitem_unpivot": """
            SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
                   CAST(l_linenumber AS INT) AS l_linenumber,
                   'quantity' AS measure,
                   CAST(l_quantity AS DOUBLE) AS value
            FROM lineitem WHERE l_orderkey % 50 = 0
            UNION ALL
            SELECT CAST(l_orderkey AS BIGINT), CAST(l_linenumber AS INT),
                   'extendedprice', CAST(l_extendedprice AS DOUBLE)
            FROM lineitem WHERE l_orderkey % 50 = 0
            UNION ALL
            SELECT CAST(l_orderkey AS BIGINT), CAST(l_linenumber AS INT),
                   'discount', CAST(l_discount AS DOUBLE)
            FROM lineitem WHERE l_orderkey % 50 = 0
            UNION ALL
            SELECT CAST(l_orderkey AS BIGINT), CAST(l_linenumber AS INT),
                   'tax', CAST(l_tax AS DOUBLE)
            FROM lineitem WHERE l_orderkey % 50 = 0
        """,
        # PIVOT as conditional aggregation; price mass sums in
        # DECIMAL(18,4) before the double cast (exact — the
        # pricing_summary discipline)
        "orders_pivot": """
            SELECT o_orderpriority,
                   CAST(count(CASE WHEN o_orderstatus = 'F' THEN 1 END)
                        AS BIGINT) AS n_f,
                   CAST(sum(CASE WHEN o_orderstatus = 'F'
                            THEN CAST(o_totalprice AS DECIMAL(18,4)) END)
                        AS DOUBLE) AS price_f,
                   CAST(count(CASE WHEN o_orderstatus = 'O' THEN 1 END)
                        AS BIGINT) AS n_o,
                   CAST(sum(CASE WHEN o_orderstatus = 'O'
                            THEN CAST(o_totalprice AS DECIMAL(18,4)) END)
                        AS DOUBLE) AS price_o,
                   CAST(count(CASE WHEN o_orderstatus = 'P' THEN 1 END)
                        AS BIGINT) AS n_p,
                   CAST(sum(CASE WHEN o_orderstatus = 'P'
                            THEN CAST(o_totalprice AS DECIMAL(18,4)) END)
                        AS DOUBLE) AS price_p
            FROM orders GROUP BY o_orderpriority
        """,
        "emb_topk": """
            WITH q AS (
              SELECT vec_id AS query_id, embedding AS qv
              FROM embeddings WHERE vec_id < 5),
            c AS (SELECT vec_id, embedding AS cv FROM embeddings),
            scored AS (
              SELECT query_id, vec_id,
                     list_cosine_similarity(qv, cv) AS cosine
              FROM q CROSS JOIN c),
            ranked AS (
              SELECT query_id, vec_id,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, vec_id) AS rank
              FROM scored)
            SELECT CAST(query_id AS BIGINT) AS query_id,
                   CAST(vec_id AS BIGINT) AS vec_id,
                   CAST(rank AS INT) AS rank
            FROM ranked WHERE rank <= 10
        """,
        "emb_neardup": f"""
            WITH b AS (
              SELECT vec_id, embedding,
                     {_bucket_sql('embedding')} AS bkt,
                     {_norm_sql('embedding')} AS nrm
              FROM embeddings),
            f AS (SELECT * FROM b WHERE nrm > 0)
            SELECT CAST(l.vec_id AS BIGINT) AS a,
                   CAST(r.vec_id AS BIGINT) AS b,
                   {_dot_sql('l.embedding', 'r.embedding')}
                     / (l.nrm * r.nrm) AS cosine
            FROM f l JOIN f r ON l.bkt = r.bkt AND l.vec_id < r.vec_id
            WHERE {_dot_sql('l.embedding', 'r.embedding')}
                  / (l.nrm * r.nrm) >= 0.3
        """,
        "sample_deterministic": f"""
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST({_hex52_sql(
                       "'42|' || CAST(doc_id AS VARCHAR)")} % 1000 AS INT)
                     AS sample_bucket
            FROM documents
            WHERE {_hex52_sql("'42|' || CAST(doc_id AS VARCHAR)")} % 1000
                  < 200
        """,
        "sample_stratified": f"""
            WITH b AS (
              SELECT doc_id, lang,
                     CAST({_hex52_sql(
                         "'42|' || CAST(doc_id AS VARCHAR)")} % 1000 AS INT)
                       AS sample_bucket
              FROM documents)
            SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, sample_bucket
            FROM b
            WHERE sample_bucket < CASE lang
              WHEN 'en' THEN 100 WHEN 'de' THEN 1000
              WHEN 'es' THEN 500 WHEN 'fr' THEN 250 ELSE 0 END
        """,
        # composed corpus-prep pipeline: every stage's SQL is the same
        # fragment its standalone oracle uses, chained — dedup keeper via
        # window min, integer-exact quality gate, md5-bucket stratified
        # sample, prefix-sum token sharding
        "corpus_prep_pipeline": f"""
            WITH f AS (
              SELECT doc_id, text, lang,
                     md5(trim(regexp_replace(lower(text),
                       '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')))
                       AS content_hash,
                     CAST(len(string_split(trim(regexp_replace(lower(text),
                       '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')), ' ')) AS INT) AS n_toks,
                     CAST(len(list_distinct(string_split(
                          trim(regexp_replace(lower(text),
                            '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')), ' ')))
                          AS INT) AS n_uniq
              FROM documents),
            g AS (
              SELECT * FROM f
              WHERE n_toks >= 8 AND n_uniq * 10 >= n_toks * 3),
            dd AS (
              SELECT *, min(doc_id) OVER (PARTITION BY content_hash)
                     AS keeper FROM g),
            q AS (
              SELECT doc_id, text, lang FROM dd WHERE doc_id = keeper),
            samp AS (
              SELECT doc_id, text FROM q
              WHERE {_hex52_sql("'42|' || CAST(doc_id AS VARCHAR)")} % 1000
                < CASE lang WHEN 'en' THEN 100 WHEN 'de' THEN 1000
                            WHEN 'es' THEN 500 WHEN 'fr' THEN 250
                            ELSE 0 END),
            t AS (
              SELECT doc_id,
                     CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
              FROM samp),
            s AS (
              SELECT doc_id, n_tokens,
                     CAST(COALESCE(sum(n_tokens) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) // 2048 AS INT) AS shard
              FROM t)
            SELECT shard,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS tok_total,
                   CAST(min(doc_id) AS BIGINT) AS doc_min,
                   CAST(max(doc_id) AS BIGINT) AS doc_max
            FROM s GROUP BY shard
        """,
        "pack_token_shards": """
            WITH t AS (
              SELECT doc_id,
                     CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
              FROM documents),
            s AS (
              SELECT doc_id, n_tokens,
                     CAST(COALESCE(sum(n_tokens) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) // 2048 AS INT) AS shard
              FROM t)
            SELECT shard,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS tok_total,
                   CAST(min(doc_id) AS BIGINT) AS doc_min,
                   CAST(max(doc_id) AS BIGINT) AS doc_max
            FROM s GROUP BY shard
        """,
        "sketch_distinct_tokens": f"""
            WITH base AS (
              SELECT lang,
                     unnest(string_split(trim(regexp_replace(lower(text),
                       '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')), ' ')) AS tok
              FROM documents),
            dv AS (SELECT DISTINCT lang, tok FROM base),
            h AS (SELECT lang, tok,
                         {_hex52_sql("'42|' || tok")} AS h
                  FROM dv),
            r AS (SELECT lang, h,
                         row_number() OVER (PARTITION BY lang
                                            ORDER BY h, tok) AS rk
                  FROM h),
            b AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
                         max(h) AS kth_hash
                  FROM r WHERE rk <= 16 GROUP BY lang),
            e AS (SELECT lang, CAST(count(*) AS BIGINT) AS exact_distinct
                  FROM dv GROUP BY lang)
            SELECT lang, n_kept, kth_hash,
                   CASE WHEN n_kept < 16 THEN n_kept
                        ELSE CAST(floor(
                               CAST(67553994410557440 AS DOUBLE)
                               / CAST(kth_hash AS DOUBLE))
                             AS BIGINT) END AS est_distinct,
                   exact_distinct
            FROM b JOIN e USING (lang)
        """,
        "sketch_bottomk_sample": f"""
            WITH base AS (
              SELECT lang,
                     unnest(string_split(trim(regexp_replace(lower(text),
                       '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')), ' ')) AS tok
              FROM documents),
            dv AS (SELECT DISTINCT lang, tok FROM base),
            h AS (SELECT lang, tok,
                         {_hex52_sql("'42|' || tok")} AS h
                  FROM dv),
            r AS (SELECT lang, tok,
                         row_number() OVER (PARTITION BY lang
                                            ORDER BY h, tok) AS rk
                  FROM h)
            SELECT lang, tok, CAST(rk AS INT) AS rank
            FROM r WHERE rk <= 8
        """,
        "dedup_simhash_pairs": _simhash_oracle_sql(max_hamming=6),
        # cluster twin: the SAME pair SQL as edges, reachability CC
        # (component = min doc_id), singletons via left join
        "dedup_clusters": f"""
            WITH RECURSIVE sp AS ({_simhash_oracle_sql(max_hamming=6)}),
            und AS (SELECT a AS ea, b AS eb FROM sp
                    UNION SELECT b, a FROM sp),
            enodes AS (SELECT DISTINCT ea AS n FROM und),
            reach(src, dst) AS (
              SELECT n, n FROM enodes
              UNION
              SELECT r.src, e.eb FROM reach r JOIN und e ON r.dst = e.ea),
            comp AS (SELECT src AS node, min(dst) AS component
                     FROM reach GROUP BY src),
            ids AS (SELECT DISTINCT doc_id FROM documents)
            SELECT CAST(ids.doc_id AS BIGINT) AS doc_id,
                   CAST(COALESCE(comp.component, ids.doc_id) AS BIGINT)
                     AS cluster_id,
                   COALESCE(comp.component, ids.doc_id) = ids.doc_id
                     AS is_keeper
            FROM ids LEFT JOIN comp ON ids.doc_id = comp.node
        """,
        "similarity_lsh_topk": f"""
            WITH b AS (
              SELECT vec_id, embedding,
                     {_bucket_sql('embedding')} AS bkt,
                     {_norm_sql('embedding')} AS nrm
              FROM embeddings),
            q AS (SELECT vec_id AS query_id, embedding AS qv, bkt,
                         nrm AS qn
                  FROM b WHERE vec_id < 5),
            s AS (
              SELECT q.query_id, b.vec_id,
                     {_dot_sql('q.qv', 'b.embedding')} / (q.qn * b.nrm)
                       AS cosine
              FROM q JOIN b USING (bkt)),
            r AS (
              SELECT query_id, vec_id,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, vec_id) AS rank
              FROM s)
            SELECT CAST(query_id AS BIGINT) AS query_id,
                   CAST(vec_id AS BIGINT) AS vec_id,
                   CAST(rank AS INT) AS rank
            FROM r WHERE rank <= 10
        """,
        # as-of join: DuckDB's NATIVE ASOF JOIN is the oracle; the right
        # side pre-dedupes (user, ts) to max event_id — the same
        # last-write-wins tiebreak the Spark window encodes
        "events_asof": """
            WITH l AS (SELECT * FROM events WHERE event_type = 'click'),
            r AS (SELECT * FROM events WHERE event_type = 'purchase'
                  QUALIFY row_number() OVER (PARTITION BY user_id, ts
                                             ORDER BY event_id DESC) = 1)
            SELECT CAST(l.event_id AS BIGINT) AS event_id,
                   CAST(l.user_id AS BIGINT) AS user_id,
                   CAST(r.event_id AS BIGINT) AS purchase_event_id,
                   CAST(epoch_us(l.ts) - epoch_us(r.ts) AS BIGINT) AS gap_us
            FROM l ASOF LEFT JOIN r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        # range join: the oracle runs the plain inequality theta-join the
        # Spark side deliberately avoids (bucket + neighbor-bucket)
        "events_range_join": """
            SELECT a.event_type, CAST(count(*) AS BIGINT) AS n_pairs
            FROM events a JOIN events b
              ON a.event_type = b.event_type
             AND a.event_id < b.event_id
             AND a.user_id != b.user_id
             AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 120000000
            GROUP BY a.event_type
        """,
        # nearest-rank quantiles: CAST(p AS DOUBLE) everywhere — DuckDB
        # parses bare 0.9 as DECIMAL, whose exact product disagrees with
        # the IEEE double product Spark computes at rank boundaries
        "events_percentiles": """
            WITH r AS (
              SELECT event_type, value,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY value) AS rn,
                     count(*) OVER (PARTITION BY event_type) AS n
              FROM events)
            SELECT event_type, CAST(max(n) AS BIGINT) AS n,
                   max(CASE WHEN rn = ceil(CAST(0.5 AS DOUBLE) * n)
                            THEN value END) AS p50,
                   max(CASE WHEN rn = ceil(CAST(0.9 AS DOUBLE) * n)
                            THEN value END) AS p90,
                   max(CASE WHEN rn = ceil(CAST(0.99 AS DOUBLE) * n)
                            THEN value END) AS p99
            FROM r GROUP BY event_type
        """,
        "text_tfidf_topk": """
            WITH tok AS (
              SELECT doc_id,
                     unnest(string_split(trim(regexp_replace(lower(text),
                       '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')), ' ')) AS term
              FROM documents),
            tok2 AS (SELECT * FROM tok WHERE length(term) >= 3),
            tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                   FROM tok2 GROUP BY doc_id, term),
            dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
                    FROM tf GROUP BY term),
            rk AS (
              SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
                     row_number() OVER (
                       PARTITION BY tf.doc_id
                       ORDER BY CAST(tf.tf AS DOUBLE) / dfq.df DESC,
                                tf.term) AS rank
              FROM tf JOIN dfq USING (term))
            SELECT CAST(doc_id AS BIGINT) AS doc_id, term, tf, df,
                   CAST(rank AS INT) AS rank
            FROM rk WHERE rank <= 3
        """,
        # inverted-index pairwise cosine: integer weights (N*100 // df,
        # df-pruned vocab), exact integer dots/norms, cosine =
        # CAST(dot)/(sqrt(n2a)*sqrt(n2b)) — three correctly-rounded IEEE
        # ops in the engine's exact order, so floats match bit-for-bit
        "similarity_tfidf_cosine": """
            WITH tok AS (
              SELECT doc_id,
                     unnest(string_split(trim(regexp_replace(lower(text),
                       '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')), ' ')) AS term
              FROM documents),
            tok2 AS (SELECT * FROM tok WHERE length(term) >= 3),
            tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                   FROM tok2 GROUP BY doc_id, term),
            nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n
                   FROM tf),
            dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
                    FROM tf GROUP BY term),
            v AS (
              SELECT tf.doc_id, tf.term,
                     tf.tf * ((nd.n * 100) // dfq.df) AS w
              FROM tf JOIN dfq USING (term) CROSS JOIN nd
              WHERE dfq.df <= 64),
            nrm AS (SELECT doc_id, sum(w * w) AS n2 FROM v GROUP BY doc_id),
            p AS (
              SELECT a.doc_id AS da, b.doc_id AS db,
                     sum(a.w * b.w) AS dot
              FROM v a JOIN v b
                ON a.term = b.term AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            c AS (
              SELECT p.da, p.db,
                     CAST(p.dot AS DOUBLE)
                       / (sqrt(CAST(na.n2 AS DOUBLE))
                          * sqrt(CAST(nb.n2 AS DOUBLE))) AS cosine
              FROM p JOIN nrm na ON p.da = na.doc_id
                     JOIN nrm nb ON p.db = nb.doc_id),
            u AS (SELECT da AS doc_id, db AS partner, cosine FROM c
                  UNION ALL
                  SELECT db AS doc_id, da AS partner, cosine FROM c),
            r AS (
              SELECT doc_id, partner, cosine,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY cosine DESC, partner)
                       AS rank
              FROM u)
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(partner AS BIGINT) AS partner, cosine,
                   CAST(rank AS INT) AS rank
            FROM r WHERE rank <= 5
        """,
        # IVF ANN twin: same KMV-seeded centroids, same one-pass
        # assignment, same fold order for every float
        "similarity_ivf_topk": f"""
            WITH cent0 AS (
              SELECT vec_id AS sid, embedding AS cv,
                     {_hex52_sql("CAST(vec_id AS VARCHAR) || '|42'")} AS h
              FROM embeddings ORDER BY h, sid LIMIT 8),
            cent AS (
              SELECT row_number() OVER (ORDER BY h, sid) - 1 AS cell_id,
                     cv, {_norm_sql('cv')} AS cnorm
              FROM cent0),
            corp AS (SELECT vec_id, embedding AS v,
                            {_norm_sql('embedding')} AS vn
                     FROM embeddings),
            cc AS (
              SELECT vec_id, v, vn, cell_id,
                     {_dot_sql('v', 'cv')} / (vn * cnorm) AS ccos
              FROM corp, cent),
            ca AS (
              SELECT *, row_number() OVER (
                       PARTITION BY vec_id
                       ORDER BY ccos DESC NULLS LAST, cell_id) AS cr
              FROM cc),
            cassign AS (SELECT vec_id, v, vn, cell_id FROM ca WHERE cr = 1),
            qs AS (SELECT vec_id AS query_id, v AS qv, vn AS qn, cell_id
                   FROM ca WHERE vec_id < 5 AND cr <= 2),
            scored AS (
              SELECT q.query_id, c.vec_id,
                     {_dot_sql('q.qv', 'c.v')} / (q.qn * c.vn) AS cosine
              FROM qs q JOIN cassign c USING (cell_id)),
            r AS (
              SELECT query_id, vec_id,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, vec_id) AS rank
              FROM scored)
            SELECT CAST(query_id AS BIGINT) AS query_id,
                   CAST(vec_id AS BIGINT) AS vec_id,
                   CAST(rank AS INT) AS rank
            FROM r WHERE rank <= 10
        """,
        "nkg_cooccurrence": f"""
            WITH {_MENTIONS_CTE},
            gsd AS (SELECT DISTINCT conv_id, surface FROM mentions),
            -- mirror mention_cooccurrence's max_group_width cap (same
            -- key, same surface order) so a >256-surface conversation
            -- cannot diverge the engines
            gs AS (SELECT conv_id, surface FROM gsd
                   QUALIFY row_number() OVER (PARTITION BY conv_id
                                              ORDER BY surface) <= 256)
            SELECT a.surface AS surface_a, b.surface AS surface_b,
                   CAST(count(*) AS BIGINT) AS n_groups
            FROM gs a JOIN gs b
              ON a.conv_id = b.conv_id AND a.surface < b.surface
            GROUP BY a.surface, b.surface
        """,
        # G4 north-star tail: surface co-occurrence edges re-keyed to
        # canonical entities — the shared s2e chain joined onto both edge
        # endpoints (COALESCE fallback mirrors rekey_facts_to_entities),
        # least/greatest normalization, self-edges dropped, weights summed
        "nkg_entity_cooccurrence": f"""
            WITH RECURSIVE {_MENTIONS_CTE},
            {_s2e_ctes()},
            gsd AS (SELECT DISTINCT conv_id, surface FROM mentions),
            gs AS (SELECT conv_id, surface FROM gsd
                   QUALIFY row_number() OVER (PARTITION BY conv_id
                                              ORDER BY surface) <= 256),
            e AS (
              SELECT a.surface AS sa, b.surface AS sb,
                     CAST(count(*) AS BIGINT) AS n_groups
              FROM gs a JOIN gs b
                ON a.conv_id = b.conv_id AND a.surface < b.surface
              GROUP BY a.surface, b.surface),
            ek AS (
              SELECT COALESCE(m1.entity_id, e.sa) AS ea,
                     COALESCE(m2.entity_id, e.sb) AS eb, e.n_groups
              FROM e LEFT JOIN s2e m1 ON e.sa = m1.surface
                     LEFT JOIN s2e m2 ON e.sb = m2.surface),
            norm AS (
              SELECT least(ea, eb) AS entity_a,
                     greatest(ea, eb) AS entity_b, n_groups
              FROM ek WHERE ea <> eb)
            SELECT entity_a, entity_b,
                   CAST(sum(n_groups) AS BIGINT) AS n_groups,
                   CAST(count(*) AS BIGINT) AS n_surface_pairs
            FROM norm GROUP BY entity_a, entity_b
        """,
        # weighted PageRank, 3 power iterations in ALL-INTEGER arithmetic
        # (graph.pagerank_iterations' exact recurrence: contrib =
        # (rank // strength) * w, rank' = 15% base + 85% of the in-sum,
        # both integer-divided by 100) — `//` on BIGINT/HUGEINT is exact,
        # so every rank matches the engine bit-for-bit
        "nkg_pagerank": f"""
            WITH {_MENTIONS_CTE},
            gsd AS (SELECT DISTINCT conv_id, surface FROM mentions),
            gs AS (SELECT conv_id, surface FROM gsd
                   QUALIFY row_number() OVER (PARTITION BY conv_id
                                              ORDER BY surface) <= 256),
            e AS (
              SELECT a.surface AS sa, b.surface AS sb,
                     CAST(count(*) AS BIGINT) AS w
              FROM gs a JOIN gs b
                ON a.conv_id = b.conv_id AND a.surface < b.surface
              GROUP BY a.surface, b.surface),
            und AS (SELECT sa AS src, sb AS dst, w FROM e
                    UNION ALL
                    SELECT sb AS src, sa AS dst, w FROM e),
            st AS (SELECT src, CAST(sum(w) AS BIGINT) AS out_w
                   FROM und GROUP BY src),
            adj AS (SELECT u.src, u.dst, u.w, s.out_w
                    FROM und u JOIN st s USING (src)),
            nodes AS (SELECT DISTINCT src AS node FROM adj),
            r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS rank
                   FROM nodes),
            i1 AS (SELECT a.dst, sum((r.rank // a.out_w) * a.w) AS s
                   FROM adj a JOIN r0 r ON a.src = r.node GROUP BY a.dst),
            r1 AS (SELECT n.node,
                          CAST(150000000000
                               + (85 * coalesce(i.s, 0)) // 100
                               AS BIGINT) AS rank
                   FROM nodes n LEFT JOIN i1 i ON n.node = i.dst),
            i2 AS (SELECT a.dst, sum((r.rank // a.out_w) * a.w) AS s
                   FROM adj a JOIN r1 r ON a.src = r.node GROUP BY a.dst),
            r2 AS (SELECT n.node,
                          CAST(150000000000
                               + (85 * coalesce(i.s, 0)) // 100
                               AS BIGINT) AS rank
                   FROM nodes n LEFT JOIN i2 i ON n.node = i.dst),
            i3 AS (SELECT a.dst, sum((r.rank // a.out_w) * a.w) AS s
                   FROM adj a JOIN r2 r ON a.src = r.node GROUP BY a.dst),
            r3 AS (SELECT n.node,
                          CAST(150000000000
                               + (85 * coalesce(i.s, 0)) // 100
                               AS BIGINT) AS rank
                   FROM nodes n LEFT JOIN i3 i ON n.node = i.dst)
            SELECT node, rank FROM r3
        """,
        "nkg_entity_degree": f"""
            WITH {_MENTIONS_CTE},
            gsd AS (SELECT DISTINCT conv_id, surface FROM mentions),
            -- mirror mention_cooccurrence's max_group_width cap (same
            -- key, same surface order) so a >256-surface conversation
            -- cannot diverge the engines
            gs AS (SELECT conv_id, surface FROM gsd
                   QUALIFY row_number() OVER (PARTITION BY conv_id
                                              ORDER BY surface) <= 256),
            e AS (
              SELECT a.surface AS surface_a, b.surface AS surface_b,
                     CAST(count(*) AS BIGINT) AS n_groups
              FROM gs a JOIN gs b
                ON a.conv_id = b.conv_id AND a.surface < b.surface
              GROUP BY a.surface, b.surface),
            und AS (
              SELECT surface_a AS surface, n_groups FROM e
              UNION ALL
              SELECT surface_b, n_groups FROM e)
            SELECT surface, CAST(count(*) AS BIGINT) AS degree,
                   CAST(sum(n_groups) AS BIGINT) AS n_cooccurrences
            FROM und GROUP BY surface
        """,
        # S6: the deterministic metrics table, closed-form (8 partitions
        # by construction of the part_id; one fact per doc; exact 1.0s)
        "nkg_metrics_table": """
            WITH n AS (SELECT CAST(count(*) AS DOUBLE) AS c
                       FROM documents)
            SELECT 'eval' AS stage, 'correct_q' AS metric, c AS value
              FROM n
            UNION ALL SELECT 'eval', 'num_q_ans', c FROM n
            UNION ALL SELECT 'eval', 'p', CAST(1.0 AS DOUBLE)
            UNION ALL SELECT 'eval', 'q_p', CAST(1.0 AS DOUBLE)
            UNION ALL SELECT 'eval', 'q_r', CAST(1.0 AS DOUBLE)
            UNION ALL SELECT 'eval', 'r', CAST(1.0 AS DOUBLE)
            UNION ALL SELECT 'facts', 'n_partitions', CAST(8 AS DOUBLE)
            UNION ALL SELECT 'facts', 'rows_out', c FROM n
        """,
        # G3/A4: the gold pipeline's compaction must exactly match the
        # arithmetic-derived gold compaction — 1.0s with the doc count
        "nkg_gold_comp_match": """
            SELECT 1.0 AS p_comp, 1.0 AS r_comp, 1.0 AS f1_comp,
                   CAST(count(*) AS BIGINT) AS correct_comp,
                   CAST(count(*) AS BIGINT) AS num_pred_comp,
                   CAST(count(*) AS BIGINT) AS num_ans_comp
            FROM documents
        """,
        # P5: the label.json layout rule is closed-form over the planted
        # labels: ['None','Entity'] + sorted quals + sorted(rels - quals)
        "nkg_label_vocab": """
            WITH quals AS (
              SELECT DISTINCT '[k]qual_' || CAST(doc_id % 2 AS VARCHAR)
                     AS label FROM documents),
            rels AS (
              SELECT DISTINCT '[r]rel_' || CAST(doc_id % 3 AS VARCHAR)
                     AS label FROM documents),
            ordered AS (
              SELECT 'None' AS label, 0 AS grp, 'special' AS kind
              UNION ALL SELECT 'Entity', 1, 'special'
              UNION ALL SELECT label, 2, 'qualifier' FROM quals
              UNION ALL SELECT label, 3, 'relation' FROM rels
                        WHERE label NOT IN (SELECT label FROM quals))
            SELECT label,
                   CAST(row_number() OVER (ORDER BY grp, label) - 1 AS INT)
                     AS label_id,
                   kind
            FROM ordered
        """,
        # bloom semi-join: identical md5-derived bit positions, 32-bit
        # words in BIGINTs (shift < 32 — overflow-free in any engine)
        "bloom_semijoin": f"""
            WITH u AS (SELECT o_orderkey AS key FROM orders
                       WHERE o_orderpriority = '1-URGENT'),
            pos AS (
              SELECT unnest([
                {_hex52_sql("CAST(key AS VARCHAR) || '|0|42'")} % 262144,
                {_hex52_sql("CAST(key AS VARCHAR) || '|1|42'")} % 262144,
                {_hex52_sql("CAST(key AS VARCHAR) || '|2|42'")} % 262144
              ]) AS pos FROM u),
            bl AS (SELECT CAST(pos // 32 AS INT) AS word_idx,
                          bit_or(CAST(1 AS BIGINT)
                                 << CAST(pos % 32 AS INT)) AS bits
                   FROM pos GROUP BY 1),
            warr AS (SELECT list(COALESCE(bl.bits, 0) ORDER BY g.i) AS ws
                     FROM (SELECT unnest(range(0, 8192)) AS i) g
                     LEFT JOIN bl ON bl.word_idx = g.i),
            probe AS (
              SELECT
                {_hex52_sql("CAST(l_orderkey AS VARCHAR) || '|0|42'")}
                  % 262144 AS p0,
                {_hex52_sql("CAST(l_orderkey AS VARCHAR) || '|1|42'")}
                  % 262144 AS p1,
                {_hex52_sql("CAST(l_orderkey AS VARCHAR) || '|2|42'")}
                  % 262144 AS p2,
                l_orderkey
              FROM lineitem),
            flags AS (
              SELECT l_orderkey,
                ((ws[CAST(p0 // 32 AS INT) + 1]
                  & (CAST(1 AS BIGINT) << CAST(p0 % 32 AS INT))) != 0)
                AND ((ws[CAST(p1 // 32 AS INT) + 1]
                  & (CAST(1 AS BIGINT) << CAST(p1 % 32 AS INT))) != 0)
                AND ((ws[CAST(p2 // 32 AS INT) + 1]
                  & (CAST(1 AS BIGINT) << CAST(p2 % 32 AS INT))) != 0)
                  AS ok
              FROM probe, warr)
            SELECT CAST(count(*) AS BIGINT) AS n_probe,
                   CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_bloom_pass,
                   (SELECT CAST(count(*) AS BIGINT) FROM lineitem
                    WHERE l_orderkey IN (SELECT key FROM u)) AS n_true,
                   CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END)
                        - (SELECT count(*) FROM lineitem
                           WHERE l_orderkey IN (SELECT key FROM u))
                        AS BIGINT) AS n_false_pos
            FROM flags
        """,
    }
