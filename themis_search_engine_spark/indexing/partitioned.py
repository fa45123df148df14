"""Attribute-partitioned serving index: filtered retrieval by partition
pruning on the PRODUCTION (compressed WAND) path.

metadata.bm25_topk_filtered restricts the flat-postings plan with a
doc_id semi-join — correct anywhere, but the filter still costs a join.
At web scale the dominant filters are low-cardinality document
attributes (language, collection, crawl), and the right physical answer
is the Iceberg/Hive one: lay the index out partitioned by the attribute
so a filtered query never reads excluded partitions at all.

Layout under ``path``:

    parts/<value>/…      one full serving index per attribute value
                         (postings_raw/comp, doc_stats, global_stats,
                         dictionary) — built by build_and_save_serving,
                         each with its own chunk layout
    dictionary/          GLOBAL dictionary (df summed across parts, idf
                         from global N)
    global_stats/        GLOBAL (n_docs, avgdl, max_doc_id)
    parts.json           manifest: attr column, values, per-part stats

Scoring semantics are GLOBAL: queries score with the root dictionary's
df/idf and the global avgdl, so a query over a subset of partitions is
**score-identical** to ``bm25_topk_filtered`` with the equivalent
attribute predicate (the partition layout changes I/O, never results).
:func:`wand_topk_partitioned` serves each selected part like a federated
leg (queryeng/federated.py), on the part's own ``chunk_bits`` and
``max_doc_id`` from its global_stats; the kernel decodes lengths and
scores with the global avgdl.

At 100 TB: a lang='en' query opens only ``parts/en`` (no list, no scan,
no join for the filter); the per-part build is embarrassingly parallel
across parts and each part is the standard one-shuffle serving build.
Multi-value filters (lang IN (en, de)) read the union of those parts.
Reference parity: the reference has no attribute filtering at all
(Search.java walks one global ranked list); this is engine-native
capability the web tier needs.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .build import build_and_save_serving

_SAFE = re.compile(r"^[A-Za-z0-9_\-]+$")


def _part_dir(path: str, value: str) -> str:
    if not _SAFE.match(value):
        raise ValueError(
            f"attribute value {value!r} is not filesystem-safe; "
            "pre-map values to [A-Za-z0-9_-]"
        )
    return f"{path}/parts/{value}"


def build_partitioned_serving(
    docs: DataFrame,
    path: str,
    attr_col: str = "lang",
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    stem: bool = True,
    chunk_bits: int | None = None,
    partitions: int = 64,
    values: list[str] | None = None,
) -> dict:
    """Build one serving index per ``attr_col`` value + global tables.

    ``chunk_bits``: ``None`` (the default) auto-sizes each part's chunk
    layout from its own id ceiling, as build_and_save_serving does; an
    int pins every part to it.

    ``values``: explicit partition list; default = distinct values of the
    corpus (one small aggregation — attribute columns are categorical by
    contract; a high-cardinality attr belongs in the semi-join path, not
    here). Docs with NULL attr raise (a silent drop would change corpus
    stats). Returns the manifest dict.

    At cluster scale, point the corpus read at an attr-partitioned table
    and each per-part build's ``docs.where(attr = v)`` becomes partition
    pruning on the input side too.
    """
    spark = docs.sparkSession
    rows = docs.select(attr_col).distinct().collect()
    present = sorted(r[attr_col] for r in rows if r[attr_col] is not None)
    if len(present) != len(rows):
        raise ValueError(f"NULL {attr_col} values in corpus")
    if values is None:
        vals = present
    else:
        # an explicit list must COVER the corpus: silently dropping docs
        # outside it would corrupt the "global" stats and break the
        # score-identity contract with the semi-join filtered plan
        vals = sorted(set(values))
        extra = [v for v in present if v not in vals]
        if extra:
            raise ValueError(
                f"corpus contains {attr_col} values {extra} not in the "
                f"explicit partition list {vals}"
            )
    if not vals:
        raise ValueError("empty corpus / no partition values")

    parts: dict[str, dict] = {}
    for v in vals:
        sub = docs.where(F.col(attr_col) == v).select(id_col, text_col)
        idx = build_and_save_serving(
            sub, _part_dir(path, v), text_col=text_col, id_col=id_col,
            stem=stem, chunk_bits=chunk_bits, partitions=partitions,
        )
        parts[v] = {
            "n_docs": idx.n_docs,
            "avgdl": idx.avgdl,
            "max_doc_id": idx.max_doc_id,
        }

    # global stats: exact totals from the (disjoint) part doc_stats
    tot = (
        spark.read.parquet(*[f"{_part_dir(path, v)}/doc_stats" for v in vals])
        .agg(F.sum("length").alias("t"), F.max("doc_id").alias("m"))
        .collect()[0]
    )
    n_docs = sum(p["n_docs"] for p in parts.values())
    avgdl = float(tot["t"] or 0.0) / n_docs if n_docs else 0.0
    max_doc_id = int(tot["m"] or 0)
    spark.createDataFrame(
        [(n_docs, avgdl, max_doc_id)],
        "n_docs long, avgdl double, max_doc_id long",
    ).write.mode("overwrite").parquet(f"{path}/global_stats")

    # global dictionary: df summed across parts, idf from global N
    dicts = spark.read.parquet(
        *[f"{_part_dir(path, v)}/dictionary" for v in vals]
    )
    (
        dicts.groupBy("term")
        .agg(F.sum("df").alias("df"))
        .withColumn(
            "idf",
            F.log2(
                (F.lit(float(n_docs)) - F.col("df") + 0.5)
                / (F.col("df") + 0.5)
            ),
        )
        .write.mode("overwrite")
        .parquet(f"{path}/dictionary")
    )

    manifest = {
        "attr_col": attr_col,
        "values": vals,
        "stem": stem,
        "n_docs": n_docs,
        "avgdl": avgdl,
        "max_doc_id": max_doc_id,
        "parts": parts,
    }
    tmp = f"{path}/parts.json.tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1)
    os.replace(tmp, f"{path}/parts.json")
    return manifest


def _read_manifest(path: str, values: list[str] | None) -> tuple[dict, list]:
    """(manifest, selected values) for the partition subset ``values``
    (default: all). Unknown values raise — a typo'd filter must not
    silently return an empty index."""
    with open(f"{path}/parts.json") as fh:
        manifest = json.load(fh)
    all_vals = manifest["values"]
    sel = all_vals if values is None else sorted(set(values))
    if not sel:
        raise ValueError(f"empty partition selection; have {all_vals}")
    unknown = [v for v in sel if v not in all_vals]
    if unknown:
        raise ValueError(f"unknown partition values {unknown}; have {all_vals}")
    return manifest, sel


def wand_topk_partitioned(
    spark: SparkSession,
    path: str,
    qterms: DataFrame,
    values: list[str] | None = None,
    k: int = 10,
) -> DataFrame:
    """(qid, doc_id, score, rank): filtered BM25 top-k over only the docs
    whose attribute is in ``values`` — the filter is partition pruning,
    not a join. Scores are identical to metadata.bm25_topk_filtered with
    the equivalent IN-predicate (global df/idf/avgdl): the batch's df and
    idf come from the root dictionary in one pyarrow read. Only the
    selected parts are opened; each is served on its own layout
    (queryeng.federated._serve_legs). Parts hold disjoint docs, so the
    top-k over per-part top-k is exact."""
    from ..queryeng.federated import _query_map, _serve_legs
    from ..queryeng.planner import _price_terms
    from .merge import _base_totals

    manifest, sel = _read_manifest(path, values)
    queries = _query_map(qterms)
    priced = _price_terms(path, {t for ts in queries.values() for t in ts})
    legs = []
    for v in sel:
        g = _base_totals(spark, _part_dir(path, v))
        legs.append((_part_dir(path, v), g["chunk_bits"], g["max_doc_id"],
                     queries))
    return _serve_legs(
        spark, legs, priced, manifest["avgdl"], k, leg_k=k
    ).withColumn("rank", F.col("rank").cast("int"))
