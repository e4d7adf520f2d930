"""Round-10: sequential dedup-cascade verdict (which stage kills a doc).

Production dedup is a CASCADE, not a set of independent filters: Dolma
and MassiveText run exact dedup, then intra-document normalization,
then near-dup, then boilerplate line removal, each stage seeing only
the SURVIVORS of the previous one — so "how many docs did near-dup
remove" is only answerable with the stages composed in order.  The
registry has every stage as a standalone operator (``dedup_exact``,
``intra_doc_dedup``, ``minhash_lsh_neardups``, ``line_dedup_stats``)
and a composed QUALITY verdict (``corpus_keep_verdict``); this is the
composed DEDUP verdict: per (source, kill-reason) document and
character counts under the sequential semantics.

Stage order and kill rules (all reusing the standalone kernels, so
the cascade cannot drift from the operators it composes):

1. ``exact``      — md5(text) group, min-doc_id survivor;
2. ``repetition`` — Gopher rule 8 on survivors: intra-doc duplicate-
   line character fraction ≥ ``REP_T`` (rare on this corpus by
   construction — the synthetic docs never repeat a pseudo-line
   internally — but the stage is load-bearing on real crawls);
3. ``neardup``    — banded MinHash-LSH pairs among survivors,
   verified Jaccard ≥ 0.6; the larger doc_id of each pair is killed
   (greedy min-id-wins at PAIR grain; transitive-closure clustering
   is ``dedup_clusters``' job, not the cascade's).  The killed ids
   come from ``minhash_lsh_dup_ids``, which verifies bucket minima
   first and is equal by construction to the losing ids of the
   standalone kernel's pairs;
4. ``boilerplate``— C4-style line grain over the remaining survivors:
   docs whose cross-doc duplicate-line characters are ≥ ``BOILER_T``
   of their text;
5. ``kept``       — everything else.

Scale shape (100 TB): each stage is the standalone operator's plan
(hash-groupBy / banded LSH / segment pass — never all-pairs) run on a
monotonically SHRINKING survivor frame, stitched with doc-grain
equi/anti joins; survivor frames persist because stage t+1 and the
final verdict both consume them (registry cache posture).

The DuckDB oracle composes the committed stage oracles verbatim: the
minhash / line-grain CTE bodies are spliced in with their source CTE
re-pointed at the survivor set (splice asserts at import), so any
drift between a kernel and its oracle fails the parity test here too.

Reference scope: no corpus surface in the reference
(blaiseclarke/sleep-edf-data-pipeline); extends SURVEY §2.7's dedup
family per the build brief.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import minhash_lsh_dup_ids
from ..tables import spread, table
from .dedup_queries import ORACLE_MINHASH_LSH_NEARDUPS
from .intra_doc_dedup import ORACLE_INTRA_DOC_DEDUP, intra_doc_retention
from .line_dedup import (
    ORACLE_LINE_DEDUP_STATS,
    line_grain_partials,
    retention_from_partials,
)

#: Intra-doc duplicate-character fraction that kills a document
#: (Gopher rule 8 operating point).
REP_T = 0.2

#: Cross-doc duplicate-line character fraction that kills a document.
BOILER_T = 0.5


def q_dedup_cascade_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(table(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id", "source", "text", F.col("n_chars").cast("bigint").alias("n_chars")
    )

    # Every multi-consumer frame below is persisted AND eagerly
    # materialized: in a single multi-branch action, lazy persists
    # populate too late and each branch re-runs the subtree (the
    # iterative-loop discipline from the k-core saga, applied to a
    # DAG) — measured 15 s → 5 s at sf0.1.
    #
    # r13 optimization (guide §2.4/§5): ONE corpus-scale cache instead
    # of four.  The old shape persisted+counted a NEW full-text frame
    # after every stage (flagged, s1⋈rep, s3, s3⋈ret) — three extra
    # corpus-scale cache-write jobs whose only content change vs the
    # previous cache was one doc-grain column.  Now the single
    # full-text cache is ``flagged`` and every stage persists only its
    # DOC-GRAIN verdict frame (dup_char_frac / nd_ids / rm_frac — a
    # few bytes per doc); the survivor frames s1/s2/s3 are re-derived
    # per consumer as columnar cache scans + doc-keyed joins against
    # the small cached frames (AQE broadcasts them at this scale and
    # degrades to a shuffle when a 100 TB corpus outgrows that).  Every
    # stage kernel still runs exactly once, on exactly the same
    # survivor rows — the stitching joins/filters are expression-
    # identical, so the verdict is unchanged.

    # stage 1: exact — min-doc_id survivor per md5(text) group
    w_md5 = Window.partitionBy(F.md5("text"))
    flagged = docs.withColumn("_surv", F.min("doc_id").over(w_md5)).persist()
    flagged.count()
    s1 = flagged.filter(F.col("doc_id") == F.col("_surv")).drop("_surv")
    exact_killed = flagged.filter(F.col("doc_id") != F.col("_surv")).select(
        "doc_id", "source", "n_chars", F.lit("exact").alias("reason")
    )

    # stage 2: intra-doc repetition on s1 (doc-grain persist only)
    rep = (
        intra_doc_retention(line_grain_partials(s1))
        .select("doc_id", "dup_char_frac")
        .persist()
    )
    rep.count()
    s1r = s1.join(rep, "doc_id")
    rep_cond = F.col("dup_char_frac") >= REP_T
    rep_killed = s1r.filter(rep_cond).select(
        "doc_id", "source", "n_chars", F.lit("repetition").alias("reason")
    )
    s2 = s1r.filter(~rep_cond).drop("dup_char_frac")

    # stage 3: banded MinHash near-dup among s2 (the standalone
    # kernel's constants); larger id of a verified pair dies
    nd_ids = minhash_lsh_dup_ids(
        s2, "doc_id", "text", k=16, shingle_n=1, bands=4,
        rows_per_band=4, threshold=0.6,
    ).persist()
    nd_ids.count()
    nd_killed = s2.join(nd_ids, "doc_id").select(
        "doc_id", "source", "n_chars", F.lit("neardup").alias("reason")
    )
    s3 = s2.join(nd_ids, "doc_id", "left_anti")

    # stage 4: cross-doc boilerplate line share over s3 (doc-grain
    # persist only)
    ret = (
        retention_from_partials(line_grain_partials(s3))
        .select(
            "doc_id",
            (
                F.col("removed_chars").cast("double")
                / (F.col("kept_chars") + F.col("removed_chars")).cast("double")
            ).alias("rm_frac"),
        )
        .persist()
    )
    ret.count()
    s3r = s3.join(ret, "doc_id")
    boiler_cond = F.col("rm_frac") >= BOILER_T
    boiler_killed = s3r.filter(boiler_cond).select(
        "doc_id", "source", "n_chars", F.lit("boilerplate").alias("reason")
    )
    kept = s3r.filter(~boiler_cond).select(
        "doc_id", "source", "n_chars", F.lit("kept").alias("reason")
    )

    verdict = (
        exact_killed.unionByName(rep_killed)
        .unionByName(nd_killed)
        .unionByName(boiler_killed)
        .unionByName(kept)
    )
    return verdict.groupBy("source", "reason").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
    )


def _splice(oracle: str, prefix: str, src_cte: str) -> tuple[str, str]:
    """Split a committed stage oracle into (cte_block, final_select),
    re-pointing its ``FROM documents`` at ``src_cte`` and prefixing
    every internal CTE name so multiple splices cannot collide."""
    body = oracle.strip()
    assert body.startswith("WITH "), body[:40]
    assert body.count("FROM documents") == 1, oracle
    idx = body.rindex("\nSELECT ")
    ctes, final = body[len("WITH "):idx].rstrip().rstrip(","), body[idx:]
    names = re.findall(r"(?:^|,)\s*([a-z_][a-z0-9_]*)\s+AS\s*\(", ctes)
    assert names, ctes[:80]
    for n in names:
        ctes = re.sub(rf"\b{n}\b", f"{prefix}{n}", ctes)
        final = re.sub(rf"\b{n}\b", f"{prefix}{n}", final)
    ctes = ctes.replace("FROM documents", f"FROM {src_cte}")
    return ctes, final.strip()


_R_CTES, _R_SEL = _splice(ORACLE_INTRA_DOC_DEDUP, "r_", "s1")
_ND_CTES, _ND_SEL = _splice(ORACLE_MINHASH_LSH_NEARDUPS, "nd_", "s2")
_L3_CTES, _L3_SEL = _splice(ORACLE_LINE_DEDUP_STATS, "l3_", "s3")

ORACLE_DEDUP_CASCADE_VERDICT = f"""
WITH d AS (
    SELECT doc_id, source, text, CAST(n_chars AS BIGINT) AS n_chars
    FROM documents
),
ex AS (
    SELECT doc_id, source, text, n_chars,
           min(doc_id) OVER (PARTITION BY md5(text)) AS surv
    FROM d
),
s1 AS (
    SELECT doc_id, source, text, n_chars FROM ex WHERE doc_id = surv
),
exact_killed AS (
    SELECT doc_id, source, n_chars, 'exact' AS reason
    FROM ex WHERE doc_id != surv
),
{_R_CTES},
rep AS ({_R_SEL}),
rep_killed AS (
    SELECT s1.doc_id, s1.source, s1.n_chars, 'repetition' AS reason
    FROM s1 JOIN rep ON rep.doc_id = s1.doc_id
    WHERE rep.dup_char_frac >= {REP_T}
),
s2 AS (
    SELECT s1.doc_id, s1.source, s1.text, s1.n_chars
    FROM s1 JOIN rep ON rep.doc_id = s1.doc_id
    WHERE rep.dup_char_frac < {REP_T}
),
{_ND_CTES},
nd AS ({_ND_SEL}),
nd_ids AS (SELECT DISTINCT id_b AS doc_id FROM nd),
nd_killed AS (
    SELECT s2.doc_id, s2.source, s2.n_chars, 'neardup' AS reason
    FROM s2 JOIN nd_ids USING (doc_id)
),
s3 AS (
    SELECT * FROM s2
    WHERE doc_id NOT IN (SELECT doc_id FROM nd_ids)
),
{_L3_CTES},
l3 AS ({_L3_SEL}),
ret AS (
    SELECT doc_id,
           CAST(removed_chars AS DOUBLE)
               / CAST(kept_chars + removed_chars AS DOUBLE) AS rm_frac
    FROM l3
),
boiler_killed AS (
    SELECT s3.doc_id, s3.source, s3.n_chars, 'boilerplate' AS reason
    FROM s3 JOIN ret USING (doc_id) WHERE ret.rm_frac >= {BOILER_T}
),
kept AS (
    SELECT s3.doc_id, s3.source, s3.n_chars, 'kept' AS reason
    FROM s3 JOIN ret USING (doc_id) WHERE ret.rm_frac < {BOILER_T}
),
verdict AS (
    SELECT * FROM exact_killed
    UNION ALL SELECT * FROM rep_killed
    UNION ALL SELECT * FROM nd_killed
    UNION ALL SELECT * FROM boiler_killed
    UNION ALL SELECT * FROM kept
)
SELECT source, reason,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS n_chars
FROM verdict GROUP BY source, reason
"""


QUERIES = {
    "dedup_cascade_verdict": q_dedup_cascade_verdict,
}

ORACLES = {
    "dedup_cascade_verdict": ORACLE_DEDUP_CASCADE_VERDICT,
}
