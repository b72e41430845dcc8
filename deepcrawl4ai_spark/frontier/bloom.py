"""Partitioned, size-adaptive Bloom-filter URL-seen set (north_rule; SURVEY.md J3).

The reference has no explicit visited-set (it leans on crawl4ai CacheMode,
reference tasks.py:182) — here it is a first-class, checkpointable table:
numpy bit-arrays per partition_id = int(url_hash[:4], 16) % P, built and
merged with applyInPandas (vectorized, no per-row Python API), OR-merged
across rounds (associative + idempotent → safe under task retries).

Sizing is data-driven, not fixed (ADVICE r1: a fixed 2 MiB filter saturates
to FPR≈1 at 10^10 URLs):

- every filter row carries its own ``m_bits``; ``build_filters`` sizes each
  partition at BITS_PER_ITEM (10) bits per inserted item (k=4 → ~1.2% FPR at
  full load), floored at MIN_BITS.
- ``add_to_filters`` absorbs new hashes into the newest generation while its
  item capacity (m_bits / BITS_PER_ITEM) holds, then spills into a NEW
  generation with geometrically larger m — a scalable-Bloom-filter layout
  where membership = OR across generations (rows) of a partition.
- the engine periodically REBUILDS the whole table from the append-only
  seen_hashes log (engine.run) once the seen-set has grown ≥4× past the
  last build, collapsing generations back to one right-sized filter per
  partition. Rebuilds are O(log N) over a crawl's lifetime.

Membership is a *prefilter*: "definitely new" rows skip the exact anti-join
entirely; only maybe-seen rows pay for it. Correctness is never
bloom-dependent — a saturated filter only costs extra anti-join work.

The prefilter only pays in front of an exact set too large to probe
directly, so the engine keeps NO filter while the seen set is below its
log-prune gate (engine.PRUNE_MIN_SEEN, env ``CRAWL_PRUNE_MIN_SEEN``): a round
there is one left-anti join against the whole seen_hashes log. The round in
which the seen set reaches the gate builds the filter from the log
(build_filters); from then on it is carried and grown as above.
"""

from __future__ import annotations

import math
import os as _os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

N_PARTITIONS = 128  # also the bloom stage's max parallelism
K_HASHES = 4
BITS_PER_ITEM = 10  # m/n at build time → ~1.2% FPR with k=4 at full load
# floor per generation; env-tunable so tests can force generation spills
MIN_BITS = int(_os.environ.get("CRAWL_BLOOM_MIN_BITS", str(1 << 17)))
# storage buckets for the append-only seen_hashes log (must divide
# N_PARTITIONS): the exact-rescue anti-join prunes to the buckets actually
# present among maybe-seen candidates instead of scanning the whole log
SEEN_BUCKETS = int(_os.environ.get("CRAWL_SEEN_BUCKETS", "16"))
# bucket = partition_id % SEEN_BUCKETS only coarsens cleanly when SEEN_BUCKETS
# divides N_PARTITIONS; otherwise driver-side bucket math (engine.resubmit)
# and the stored bucket column silently disagree and prune the WRONG buckets
# (already-seen URLs would re-enqueue as fresh). Fail at import, not at 10^10.
if N_PARTITIONS % SEEN_BUCKETS != 0:
    raise ValueError(
        f"CRAWL_SEEN_BUCKETS={SEEN_BUCKETS} must divide N_PARTITIONS={N_PARTITIONS}"
    )
# seen-filter kind: 'bloom' (default) or 'cuckoo' (deletion-capable —
# frontier/cuckoo.py). Same table layout, generations, rebuild cycle, and
# prefilter contract either way; membership dispatches on each row's
# filter_kind, so the choice binds at BUILD time per generation.
FILTER_KIND = _os.environ.get("CRAWL_FILTER_KIND", "bloom")

FILTER_SCHEMA = T.StructType(
    [
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("filter_kind", T.StringType(), False),
        T.StructField("bits", T.BinaryType(), False),
        T.StructField("m_bits", T.LongType(), False),
        T.StructField("n_items", T.LongType(), False),
        T.StructField("round", T.IntegerType(), False),
    ]
)


def partition_id_col(url_hash_col):
    """partition_id from the first 4 hex chars of the sha1 — pure SQL."""
    return (
        F.conv(F.substring(url_hash_col, 1, 4), 16, 10).cast("int") % N_PARTITIONS
    )


def seen_bucket_col(url_hash_col):
    """Storage-bucket column for seen_hashes (coarsening of partition_id)."""
    return (partition_id_col(url_hash_col) % SEEN_BUCKETS).alias("bucket")


def seen_bucket_of(url_hash: str) -> int:
    """Driver-side twin of seen_bucket_col — MUST mirror it exactly (the
    resubmit prune reads only these buckets; a mismatched formula silently
    re-enqueues already-seen URLs)."""
    return (int(url_hash[:4], 16) % N_PARTITIONS) % SEEN_BUCKETS


def size_for(n_items: int, min_bits: int | None = None) -> int:
    """Bits for *n_items* at BITS_PER_ITEM, next power of two, ≥ min_bits
    (default MIN_BITS)."""
    floor = MIN_BITS if min_bits is None else min_bits
    want = max(int(n_items) * BITS_PER_ITEM, floor)
    return 1 << (want - 1).bit_length()


def est_fpr(n_items: int, m_bits: int, k: int = K_HASHES) -> float:
    """Classic Bloom FPR estimate (1 - e^(-kn/m))^k."""
    if m_bits <= 0:
        return 1.0
    return (1.0 - math.exp(-k * n_items / m_bits)) ** k


def _bit_positions(url_hashes: pd.Series, m_bits: int) -> np.ndarray:
    """(n, K) bit positions via double hashing of the sha1 hex — vectorized."""
    h1 = np.array([int(h[:8], 16) for h in url_hashes], dtype=np.uint64)
    h2 = np.array([int(h[8:16], 16) | 1 for h in url_hashes], dtype=np.uint64)
    i = np.arange(K_HASHES, dtype=np.uint64)[None, :]
    return ((h1[:, None] + i * h2[:, None]) % np.uint64(m_bits)).astype(np.int64)


def _set_bits(bits: np.ndarray, url_hashes: pd.Series, m_bits: int) -> None:
    pos = _bit_positions(url_hashes, m_bits).ravel()
    np.bitwise_or.at(bits, pos // 8, (1 << (pos % 8)).astype(np.uint8))


def _gen_row(pid: int, bits: np.ndarray, m: int, n: int, round_id: int) -> dict:
    return {
        "partition_id": pid,
        "filter_kind": "bloom",
        "bits": bits.tobytes(),
        "m_bits": m,
        "n_items": n,
        "round": round_id,
    }


# --- cuckoo generation helpers (frontier/cuckoo.py does the table math) -------


def _cuckoo_min_buckets(min_bits: int) -> int:
    """Memory floor comparable to the bloom MIN_BITS floor."""
    from deepcrawl4ai_spark.frontier import cuckoo as CK

    return max(64, min_bits // (CK.BUCKET_SLOTS * 16))


def _cuckoo_build_rows(
    pid: int, hashes: pd.Series, round_id: int, min_bits: int, min_nb: int = 0
) -> list[dict]:
    """One right-sized cuckoo generation holding ALL of *hashes* (grows ×2
    on the rare over-load kick failure — build never drops an item)."""
    from deepcrawl4ai_spark.frontier import cuckoo as CK

    nb = max(CK.n_buckets_for(len(hashes), _cuckoo_min_buckets(min_bits)), min_nb)
    while True:
        table = CK.new_table(nb)
        fps, i1, i2 = CK.keys(hashes, nb)
        if not CK.insert_batch(table, fps, i1, i2).any():
            break
        nb *= 2
    return [
        {
            "partition_id": pid,
            "filter_kind": "cuckoo",
            "bits": CK.table_to_bytes(table),
            "m_bits": CK.m_bits_of(nb),
            "n_items": len(hashes),
            "round": round_id,
        }
    ]


def _cuckoo_absorb(
    out: list[dict], right: pd.DataFrame, round_id: int, min_bits: int
) -> list[dict]:
    """Scalable-cuckoo absorb: fill the newest generation to its load-factor
    capacity; spill the remainder (capacity overflow OR kick failures) into
    a new ≥2× generation. Mirrors the bloom generation policy."""
    from deepcrawl4ai_spark.frontier import cuckoo as CK

    pid = out[-1]["partition_id"]
    newest = out[-1]
    nb = CK.nb_of_m_bits(newest["m_bits"])
    spill = right["url_hash"]
    if newest["n_items"] + len(right) <= CK.capacity(nb):
        table = CK.table_from_bytes(newest["bits"])
        fps, i1, i2 = CK.keys(right["url_hash"], nb)
        failed = CK.insert_batch(table, fps, i1, i2)
        newest["bits"] = CK.table_to_bytes(table)
        newest["n_items"] = int(newest["n_items"]) + int((~failed).sum())
        spill = right["url_hash"][failed]
    if len(spill):
        # geometric floor (≥2× newest) keeps generation count O(log N)
        out.extend(
            _cuckoo_build_rows(pid, spill, round_id, min_bits, min_nb=2 * nb)
        )
    return out


def build_filters(
    hashes_df: DataFrame, round_id: int, kind: str | None = None
) -> DataFrame:
    """Build per-partition filter rows sized from the ACTUAL item count of
    each partition (one generation per partition). *kind* defaults to the
    module FILTER_KIND ('bloom' | 'cuckoo'), resolved driver-side and
    closure-captured so workers agree."""
    with_pid = hashes_df.select(
        "url_hash", partition_id_col(F.col("url_hash")).alias("partition_id")
    )
    min_bits = MIN_BITS  # captured by value — driver config wins on workers
    kind = kind or FILTER_KIND

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        pid = int(pdf["partition_id"].iloc[0])
        if kind == "cuckoo":
            return pd.DataFrame(
                _cuckoo_build_rows(pid, pdf["url_hash"], round_id, min_bits)
            )
        m = size_for(len(pdf), min_bits)
        bits = np.zeros(m // 8, dtype=np.uint8)
        _set_bits(bits, pdf["url_hash"], m)
        return pd.DataFrame([_gen_row(pid, bits, m, len(pdf), round_id)])

    return with_pid.groupBy("partition_id").applyInPandas(_build, FILTER_SCHEMA)


def add_to_filters(filters: DataFrame, hashes_df: DataFrame, round_id: int) -> DataFrame:
    """ONE cogrouped pass: OR the new url_hashes into the existing filters.

    Scalable-Bloom behavior per partition: absorb into the newest (largest)
    generation while its capacity holds; otherwise spill the batch into a new
    generation with m = max(size_for(batch), 2 × newest m). Older generations
    pass through untouched."""
    hashed = hashes_df.select(
        "url_hash", partition_id_col(F.col("url_hash")).alias("partition_id")
    )
    min_bits = MIN_BITS  # captured by value — driver config wins on workers
    kind = FILTER_KIND  # for brand-new partitions only; existing rows win

    def _absorb(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        # left = existing filter rows (≥0 generations), right = new hashes
        if left.empty:
            pid = int(right["partition_id"].iloc[0])
            if kind == "cuckoo":
                return pd.DataFrame(
                    _cuckoo_build_rows(pid, right["url_hash"], round_id, min_bits)
                )
            m = size_for(len(right), min_bits)
            bits = np.zeros(m // 8, dtype=np.uint8)
            _set_bits(bits, right["url_hash"], m)
            return pd.DataFrame([_gen_row(pid, bits, m, len(right), round_id)])
        pid = int(left["partition_id"].iloc[0])
        gens = left.sort_values("m_bits").to_dict("records")
        out = [dict(g, round=round_id) for g in gens]
        if right.empty:
            return pd.DataFrame(out)
        if out[-1]["filter_kind"] == "cuckoo":
            return pd.DataFrame(_cuckoo_absorb(out, right, round_id, min_bits))
        newest = out[-1]
        capacity = newest["m_bits"] // BITS_PER_ITEM
        if newest["n_items"] + len(right) <= capacity:
            bits = np.frombuffer(newest["bits"], dtype=np.uint8).copy()
            _set_bits(bits, right["url_hash"], int(newest["m_bits"]))
            newest["bits"] = bits.tobytes()
            newest["n_items"] = int(newest["n_items"]) + len(right)
        else:
            m = max(size_for(len(right), min_bits), 2 * int(newest["m_bits"]))
            bits = np.zeros(m // 8, dtype=np.uint8)
            _set_bits(bits, right["url_hash"], m)
            out.append(_gen_row(pid, bits, m, len(right), round_id))
        return pd.DataFrame(out)

    return (
        filters.groupBy("partition_id")
        .cogroup(hashed.groupBy("partition_id"))
        .applyInPandas(_absorb, FILTER_SCHEMA)
    )


def remove_from_filters(
    filters: DataFrame, hashes_df: DataFrame, round_id: int
) -> DataFrame:
    """DELETION — the cuckoo filter's differentiator (bloom rows raise):
    evict *hashes_df*'s url_hashes from the seen filter so those URLs flow
    through the normal definitely-new path on their next sighting (a forced
    re-crawl without an exact-log exception). Each hash is removed from the
    newest generation that holds its fingerprint. Same cogrouped
    applyInPandas shape as add_to_filters."""
    hashed = hashes_df.select(
        "url_hash", partition_id_col(F.col("url_hash")).alias("partition_id")
    )
    cols = [f.name for f in FILTER_SCHEMA.fields]

    def _remove(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:
            return pd.DataFrame(columns=cols)
        gens = left.sort_values("m_bits").to_dict("records")
        out = [dict(g, round=round_id) for g in gens]
        if right.empty:
            return pd.DataFrame(out)
        if any(g["filter_kind"] != "cuckoo" for g in out):
            raise ValueError(
                "seen-filter deletion requires filter_kind='cuckoo' "
                "(bloom filters cannot delete — rebuild instead)"
            )
        from deepcrawl4ai_spark.frontier import cuckoo as CK

        remaining = np.ones(len(right), dtype=bool)
        for g in reversed(out):  # newest generation first
            if not remaining.any():
                break
            table = CK.table_from_bytes(g["bits"])
            sub = right["url_hash"][remaining]
            fps, i1, i2 = CK.keys(sub, table.shape[0])
            removed = CK.delete_batch(table, fps, i1, i2)
            g["bits"] = CK.table_to_bytes(table)
            g["n_items"] = max(0, int(g["n_items"]) - int(removed.sum()))
            idx = np.flatnonzero(remaining)
            remaining[idx[removed]] = False
        return pd.DataFrame(out)

    return (
        filters.groupBy("partition_id")
        .cogroup(hashed.groupBy("partition_id"))
        .applyInPandas(_remove, FILTER_SCHEMA)
    )


def merge_filters(existing: DataFrame, new: DataFrame, round_id: int) -> DataFrame:
    """OR-merge two filter tables (associative, idempotent). Generations are
    identified by (partition_id, m_bits) — same-size filters share the hash
    family, so their OR is a valid union filter. Bloom-only: cuckoo slots
    collide under OR (add_to_filters/rebuild are the cuckoo merge paths)."""
    both = existing.unionByName(new)

    def _merge(pdf: pd.DataFrame) -> pd.DataFrame:
        if (pdf["filter_kind"] != "bloom").any():
            raise ValueError("merge_filters is bloom-only; cuckoo uses add/rebuild")
        m = int(pdf["m_bits"].iloc[0])
        acc = np.zeros(m // 8, dtype=np.uint8)
        for b in pdf["bits"]:
            acc |= np.frombuffer(b, dtype=np.uint8)
        return pd.DataFrame(
            [
                _gen_row(
                    int(pdf["partition_id"].iloc[0]),
                    acc,
                    m,
                    int(pdf["n_items"].sum()),
                    round_id,
                )
            ]
        )

    return both.groupBy("partition_id", "m_bits").applyInPandas(_merge, FILTER_SCHEMA)


def maybe_seen(candidates: DataFrame, filters: DataFrame) -> DataFrame:
    """Adds a boolean ``maybe_seen`` to *candidates* (url_hash column required).

    Cogrouped applyInPandas on partition_id — the filter bits travel once per
    partition, never once per row. A row is maybe-seen if ANY generation of
    its partition reports all k bits set."""
    cand = candidates.withColumn(
        "partition_id", partition_id_col(F.col("url_hash"))
    )
    out_schema = T.StructType(
        cand.schema.fields + [T.StructField("maybe_seen", T.BooleanType(), False)]
    )
    cols = [f.name for f in cand.schema.fields]

    def _test(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:
            return pd.DataFrame(columns=cols + ["maybe_seen"])
        left = left.copy()
        if right.empty:
            left["maybe_seen"] = False
            return left
        hit_any = np.zeros(len(left), dtype=bool)
        # ≤ a handful of generation rows — the per-ROW work stays vectorized
        for gen_kind, gen_bits, gen_m in zip(
            right["filter_kind"], right["bits"], right["m_bits"]
        ):
            if gen_kind == "cuckoo":
                from deepcrawl4ai_spark.frontier import cuckoo as CK

                table = CK.table_from_bytes(gen_bits)
                fps, i1, i2 = CK.keys(left["url_hash"], table.shape[0])
                hit_any |= CK.contains_batch(table, fps, i1, i2)
                continue
            bits = np.frombuffer(gen_bits, dtype=np.uint8)
            pos = _bit_positions(left["url_hash"], int(gen_m))
            hit = (bits[pos // 8] & (1 << (pos % 8)).astype(np.uint8)) != 0
            hit_any |= hit.all(axis=1)
        left["maybe_seen"] = hit_any
        return left

    return (
        cand.groupBy("partition_id")
        .cogroup(filters.groupBy("partition_id"))
        .applyInPandas(_test, out_schema)
    )


def filter_stats(filters: DataFrame | None) -> dict:
    """Tiny driver-side summary (bits never collected): total items/bits,
    generation count, and the combined false-positive estimate
    1 - Π(1 - fpr_gen), averaged over partitions. *filters* is None below
    the engine's gate (no filter kept): an empty summary."""
    if filters is None:
        return {"n_items": 0, "m_bits": 0, "generations": 0, "est_fpr": 0.0}
    rows = filters.select("partition_id", "filter_kind", "m_bits", "n_items").collect()
    per_part: dict[int, float] = {}
    # cuckoo per-generation FPR ≈ 2 buckets × 4 slots / 2^16 fingerprints
    cuckoo_fpr = 2.0 * 4 / 65536
    for r in rows:
        keep = per_part.get(r["partition_id"], 1.0)
        fpr = cuckoo_fpr if r["filter_kind"] == "cuckoo" else est_fpr(r["n_items"], r["m_bits"])
        per_part[r["partition_id"]] = keep * (1.0 - fpr)
    combined = (
        sum(1.0 - keep for keep in per_part.values()) / len(per_part)
        if per_part
        else 0.0
    )
    return {
        "n_items": int(sum(r["n_items"] for r in rows)),
        "m_bits": int(sum(r["m_bits"] for r in rows)),
        "generations": len(rows),
        "est_fpr": round(combined, 6),
    }
