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
                         dictionary) — built by build_and_save_serving
    dictionary/          GLOBAL dictionary (df summed across parts, idf
                         from global N)
    global_stats/        GLOBAL (n_docs, avgdl, chunk_bits, max_doc_id)
    parts.json           manifest: attr column, values, per-part stats

Scoring semantics are GLOBAL: queries score with the root dictionary's
df/idf and the global avgdl, so a query over a subset of partitions is
**score-identical** to ``bm25_topk_filtered`` with the equivalent
attribute predicate (the partition layout changes I/O, never results).
Each part's chunks carry block-max metadata encoded under the PART's
own avgdl; pruning stays sound through the same (hi, lo) bound scales
the multi-segment merge path uses (indexing/merge.py) — exact scoring
always re-derives from decoded bytes + the global avgdl.

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
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .build import DEFAULT_CHUNK_BITS, build_and_save_serving

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
    cb = DEFAULT_CHUNK_BITS if chunk_bits is None else chunk_bits
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
            stem=stem, chunk_bits=cb, partitions=partitions,
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
        [(n_docs, avgdl, cb, max_doc_id)],
        "n_docs long, avgdl double, chunk_bits int, max_doc_id long",
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
        "chunk_bits": cb,
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


@dataclass
class PartitionedServing:
    """The tables a filtered WAND query needs, for a partition subset."""

    compressed: DataFrame
    dictionary: DataFrame
    n_docs: int
    avgdl: float
    chunk_bits: int
    max_doc_id: int
    bound_scales: tuple[float, float]
    values: list[str] = field(default_factory=list)


def load_partitioned_serving(
    spark: SparkSession, path: str, values: list[str] | None = None
) -> PartitionedServing:
    """Open the partition subset ``values`` (default: all). Unknown values
    raise — a typo'd filter must not silently return an empty index.

    The compressed frame is the union of ONLY the selected parts' chunk
    tables (excluded partitions contribute zero I/O — this IS the filter);
    dictionary/avgdl are the global ones, so scores match the semi-join
    filtered plan exactly. bound_scales cover the selected parts' encode
    avgdls per the merge-path soundness rule (indexing/merge.py).
    """
    with open(f"{path}/parts.json") as fh:
        manifest = json.load(fh)
    all_vals = manifest["values"]
    sel = all_vals if values is None else sorted(set(values))
    if not sel:
        raise ValueError(f"empty partition selection; have {all_vals}")
    unknown = [v for v in sel if v not in all_vals]
    if unknown:
        raise ValueError(f"unknown partition values {unknown}; have {all_vals}")

    comp = spark.read.parquet(
        *[f"{_part_dir(path, v)}/postings_comp" for v in sel]
    )
    dictionary = spark.read.parquet(f"{path}/dictionary")
    enc = [manifest["parts"][v]["avgdl"] for v in sel]
    enc_nz = [a for a in enc if a > 0]
    g = manifest["avgdl"]
    hi = max(1.0, *(g / a for a in enc_nz)) if enc_nz else 1.0
    lo = min(1.0, *(g / a for a in enc_nz)) if enc_nz else 1.0
    return PartitionedServing(
        compressed=comp,
        dictionary=dictionary,
        n_docs=manifest["n_docs"],
        avgdl=g,
        chunk_bits=manifest["chunk_bits"],
        max_doc_id=manifest["max_doc_id"],
        bound_scales=(hi, lo),
        values=sel,
    )


def wand_topk_partitioned(
    spark: SparkSession,
    path: str,
    qterms: DataFrame,
    values: list[str] | None = None,
    k: int = 10,
    *,
    term_list: list[str] | None = None,
) -> DataFrame:
    """Filtered BM25 top-k: top-k over only the docs whose attribute
    is in ``values`` — the filter is partition pruning, not a join.
    Scores are identical to metadata.bm25_topk_filtered with the
    equivalent IN-predicate (global df/idf/avgdl)."""
    from ..queryeng.wand import wand_topk

    ps = load_partitioned_serving(spark, path, values)
    return wand_topk(
        qterms, ps.compressed, ps.dictionary, ps.avgdl, k=k,
        chunk_bits=ps.chunk_bits, term_list=term_list,
    )
