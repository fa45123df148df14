"""Query-result cache for the interactive serving path.

The reference re-executes every query from scratch (Search.java's loop
holds only the dictionary in RAM); a production search tier fronts the
index with a RESULTS cache (the Lucene/Elasticsearch query-cache idea):
a repeated query is answered from a stored top-k instead of re-scoring
postings. Two properties make this sound here:

* **Generation-keyed invalidation.** Every index mutation — delta merge,
  delete, update, compaction — appends to the serving layout's
  ``merge_log.json`` (indexing/merge._append_log), so the md5 of that
  file's bytes is a content-addressed fingerprint of the index state
  (absent log = fresh build = the build fingerprint of the global-stats
  file). The generation participates in every cache key: a mutated index
  can NEVER serve a stale hit — old entries simply stop being addressed
  (and age out via the LRU cap). No invalidation walk, no TTL guesswork.

* **Per-QUERY granularity.** Keys are per query (terms, k, generation),
  not per batch, so overlapping batches share entries; a batch is split
  into hits (read back from the cache dir) and misses (ONE
  wand_topk_local call for all of them), and each miss is written back
  under its own key.

Storage is a directory of tiny parquet files (doc_id, score, rank — a
k-row frame each), written atomically (tmp + rename) so a crashed writer
never leaves a torn entry; a bounded LRU (mtime-ordered) cap keeps the
directory from growing without bound. At 10^12 docs this sits in front
of exactly the layout the in-process server reads — the cache dir is
local disk (or a shared object-store prefix) per serving replica, and
the generation check costs one small file read per batch.
"""

from __future__ import annotations

import hashlib
import json
import os

import pandas as pd

from .wand import wand_topk_local

_EMPTY = pd.DataFrame(
    {"qid": pd.Series(dtype="int32"), "doc_id": pd.Series(dtype="int64"),
     "score": pd.Series(dtype="float64"), "rank": pd.Series(dtype="int32")}
)


def index_generation(serving_path: str) -> str:
    """Content-addressed generation of a serving index: md5 of the merge
    log bytes (every mutation appends there), falling back to the
    global-stats file for a never-mutated fresh build."""
    for name in ("merge_log.json", "global_stats"):
        p = os.path.join(serving_path, name)
        if os.path.isfile(p):
            with open(p, "rb") as fh:
                return hashlib.md5(fh.read()).hexdigest()
        if os.path.isdir(p):  # global_stats is a parquet directory
            digest = hashlib.md5()
            for f in sorted(os.listdir(p)):
                if f.endswith(".parquet"):
                    with open(os.path.join(p, f), "rb") as fh:
                        digest.update(fh.read())
            return digest.hexdigest()
    raise FileNotFoundError(
        f"{serving_path}: neither merge_log.json nor global_stats present"
    )


def _query_key(terms: list[str], k: int, generation: str) -> str:
    return hashlib.md5(
        json.dumps([terms, k, generation]).encode()
    ).hexdigest()


def _evict_lru(cache_dir: str, max_entries: int) -> None:
    entries = [
        os.path.join(cache_dir, f)
        for f in os.listdir(cache_dir)
        if f.endswith(".parquet")
    ]
    if len(entries) <= max_entries:
        return
    entries.sort(key=os.path.getmtime)
    for p in entries[: len(entries) - max_entries]:
        try:
            os.remove(p)
        except OSError:
            pass  # concurrent evictor got it first — fine


def cached_query_topk(
    serving_path: str,
    queries: dict[int, list[str]],
    idf_map: dict[str, float],
    avgdl: float,
    k: int = 10,
    *,
    cache_dir: str,
    chunk_bits: int,
    max_entries: int = 4096,
) -> tuple[pd.DataFrame, dict]:
    """wand_topk_local fronted by the results cache. Returns
    ``(frame, stats)`` — frame is (qid, doc_id, score, rank) identical
    to the uncached call by construction (misses ARE that call; hits are
    its stored output), stats is ``{"hits", "misses", "generation"}``.
    """
    os.makedirs(cache_dir, exist_ok=True)
    gen = index_generation(serving_path)
    hits: list[pd.DataFrame] = []
    missed: dict[int, list[str]] = {}
    keys = {qid: _query_key(ts, k, gen) for qid, ts in queries.items()}
    for qid, key in keys.items():
        path = os.path.join(cache_dir, f"{key}.parquet")
        if os.path.exists(path):
            cached = pd.read_parquet(path)
            cached.insert(0, "qid", qid)
            hits.append(cached)
            os.utime(path)  # LRU touch
        else:
            missed[qid] = queries[qid]
    fresh = _EMPTY
    if missed:
        fresh = wand_topk_local(
            f"{serving_path}/postings_comp", missed, idf_map, avgdl, k,
            chunk_bits=chunk_bits,
        )
        for qid in missed:
            rows = fresh[fresh["qid"] == qid].drop(columns=["qid"])
            path = os.path.join(cache_dir, f"{keys[qid]}.parquet")
            tmp = f"{path}.tmp-{os.getpid()}"
            rows.to_parquet(tmp, index=False)
            os.replace(tmp, path)
        _evict_lru(cache_dir, max_entries)
    out = pd.concat([fresh, *hits], ignore_index=True) if hits else fresh
    out = out.sort_values(["qid", "rank"]).reset_index(drop=True)
    return out, {
        "hits": len(hits), "misses": len(missed), "generation": gen,
    }
