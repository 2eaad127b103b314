"""D1–D4 — the dedup stack (the heart of the engine, SURVEY.md §2).

D1 per-document dedup        (HashSet per graph entry, CrawlerListener.java:275)
D2 session seen-set          (in-memory md5 set, add-BEFORE-filter, :82-108, :298-315)
D3 persistent seen-set       (existBulk against the crawler index, :360-365)
D4 within-batch id collapse  (HashMap put, last-wins → we pin FIRST-wins
                              under the canonical order, :432-441)

Spark-first design (north rule: "distributed URL-seen set built as
per-partition bloom/cuckoo filters over canonicalized+hashed URLs"):

* in-wave first occurrence: window `row_number()==1` over url_id in
  canonical order — one shuffle, deterministic winner (D1+D4).
* cross-wave: `LEFT ANTI JOIN url_seen` — the EXACT decider (D2/D3).
* bloom pre-filter: a BloomFilter built from the committed seen table
  (df.stat.bloomFilter, JVM-side) probed BEFORE the anti-join. URLs the
  bloom has definitely never seen skip the join entirely; "maybe seen"
  rows (including false positives) flow to the exact anti-join, which
  resolves them — a bloom FP can never cause a false drop (§7 risk
  note). At 10^10-frontier scale this turns the anti-join's probe side
  from "whole wave" into "tiny maybe-set", cutting the dominant shuffle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


# Bit-widths for packing the canonical order tuple into ONE bigint.
# Bounds (documented scale contract, checked nowhere hot):
#   parent_ini        ∈ {0, 1}                      (1 bit)
#   parent_batch_no   < 2^41 ≈ 2.2e12 batches —     (41 bits)
#                     at 8 URLs/batch that is 1.76e13 frontier URLs,
#                     >1000× the 10^10 target scale
#   parent_batch_pos  < 8 (BATCH_SIZE)              (3 bits)
#   span_offset       < 2^18 = 262,144 spans/doc    (18 bits)
# Total 63 bits → non-negative signed long; lexicographic tuple order
# ≡ numeric order of the packed value.
_PACK_WIDTHS = {
    "parent_ini": 1,
    "parent_batch_no": 41,
    "parent_batch_pos": 3,
    "span_offset": 18,
}
_PACK_DTYPES = {
    "parent_ini": "int",
    "parent_batch_no": "long",
    "parent_batch_pos": "int",
    "span_offset": "int",
}


def _pack_order(order: tuple[str, ...]):
    """Single-bigint encoding of the order tuple (tuple-min ≡ long-min).

    Each field is range-guarded: a value outside its documented width
    (e.g. a >=2^18-span document) would silently bleed into the
    neighboring field and crown the wrong first-occurrence winner, so
    out-of-range raises loudly instead (two codegen compares per
    field — noise next to the md5/shuffle cost of the same rows).

    Built as ONE parsed SQL expression: the equivalent Column-builder
    chain costs dozens of py4j round trips on every plan build."""
    total = sum(_PACK_WIDTHS[c] for c in order)
    terms = []
    shift = total
    for c in order:
        shift -= _PACK_WIDTHS[c]
        lim = 1 << _PACK_WIDTHS[c]
        src = f"CAST(`{c}` AS BIGINT)"
        # NULL order values also land in the ELSE branch (the range
        # test is null); coalesce so the error names the column
        # instead of raise_error(NULL)'s opaque message
        term = (
            f"CASE WHEN {src} >= 0 AND {src} < {lim} THEN {src} "
            f"ELSE raise_error(concat('packed-order overflow: {c}=', "
            f"coalesce(CAST(`{c}` AS STRING), 'NULL'), ' outside [0, {lim})')) END"
        )
        terms.append(f"({term}) * {1 << shift}" if shift else f"({term})")
    return F.expr(" + ".join(terms))


def _unpack_order(pk, order: tuple[str, ...]) -> dict:
    out = {}
    total = sum(_PACK_WIDTHS[c] for c in order)
    shift = total
    for c in order:
        w = _PACK_WIDTHS[c]
        shift -= w
        out[c] = (
            F.shiftrightunsigned(pk, shift).bitwiseAND(F.lit((1 << w) - 1))
        ).cast(_PACK_DTYPES[c])
    return out


def first_occurrence(
    df: DataFrame,
    key: str = "url_id",
    order: tuple[str, ...] = ("parent_ord", "span_offset"),
    crawl_col: str = "crawl_id",
    carry: tuple[str, ...] | None = None,
    keep_packed: str | None = None,
) -> DataFrame:
    """Keep the canonically-first row per key within the wave
    (D1 in-document + D4 in-batch collapse, deterministic tiebreak).

    Two physical strategies, same result:

    * `carry=None` (generic): window `row_number()==1` — keeps every
      column, but pays a full per-partition SORT after the shuffle.
    * `carry=(cols...)` fast path (requires every order column in
      `_PACK_WIDTHS`): hash aggregate `min(struct(packed_order,
      *carry))` — no sort anywhere, map-side partial aggregation
      collapses duplicates before the shuffle, and the order columns
      are recovered by unpacking the winning key. Measured ~7× the
      window formulation at 7M rows/32 cores; output columns are
      exactly (crawl_col?, key, *carry, *order).

    The winner is identical: the packed long orders exactly like the
    order tuple, and `min` over struct compares the packed key first
    (ties impossible — (ini, batch_no, pos, offset) is unique per
    candidate row since a span occurs once per parent).

    `keep_packed="<name>"` (carry=() only) returns the winning packed
    long under that name INSTEAD of unpacking it back into the order
    columns. The packed long sorts identically to the order tuple, so
    downstream ranking (batching, politeness) can order by the single
    8-byte column — every later shuffle carries one long instead of
    four ints/longs, and range-partition comparisons become single-key.
    """
    if carry is not None and all(c in _PACK_WIDTHS for c in order):
        gcols = [crawl_col, key] if crawl_col else [key]
        if not carry:
            # fixed-width buffer → pure whole-stage-codegen
            # HashAggregate (the fastest shape; callers that key on
            # `url` itself and derive url_id AFTER the dedup use this:
            # md5 then runs once per UNIQUE url, and grouping by url
            # is exactly grouping by md5(url) minus the collision
            # merge the reference's id map would perform)
            agg = df.groupBy(*gcols).agg(
                F.min(_pack_order(order)).alias("_pk")
            )
            if keep_packed:
                return agg.withColumnRenamed("_pk", keep_packed)
            unpacked = _unpack_order(F.col("_pk"), order)
            return agg.select(
                *gcols, *[expr.alias(c) for c, expr in unpacked.items()]
            )
        agg = df.groupBy(*gcols).agg(
            F.min(
                F.struct(
                    _pack_order(order).alias("_pk"),
                    *[F.col(c) for c in carry],
                )
            ).alias("_w")
        )
        if keep_packed:
            return agg.select(
                *gcols,
                *[F.col(f"_w.{c}").alias(c) for c in carry],
                F.col("_w._pk").alias(keep_packed),
            )
        unpacked = _unpack_order(F.col("_w._pk"), order)
        return agg.select(
            *gcols,
            *[F.col(f"_w.{c}").alias(c) for c in carry],
            *[expr.alias(c) for c, expr in unpacked.items()],
        )
    pcols = [c for c in (crawl_col, key) if c]
    w = Window.partitionBy(*pcols).orderBy(*[F.col(c) for c in order])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def anti_join_seen(
    candidates: DataFrame,
    seen: DataFrame,
    key: str = "url_id",
    crawl_col: str | None = "crawl_id",
    assume_unique: bool = False,
    join_hint: str | None = None,
) -> DataFrame:
    """Exact cross-wave dedup (D2 layer-2 / D3): NOT EXISTS as a left
    anti join. With `crawl_col`, membership is per-crawl (the session
    double cache is keyed by crawl_id, CrawlerListener.java:82);
    without, it is global (the crawler index is keyed by _id only,
    :434-441).

    `assume_unique=True` skips the defensive distinct() on the seen
    side — for a LEFT ANTI join duplicate build keys never change the
    result, only build size, so callers whose seen side is unique by
    construction (the committed url_seen table: anti-joined before
    every append) drop a full shuffle of the seen table per wave.

    `join_hint='shuffle_hash'` pins ShuffledHashJoin: no sort of the
    10^10-row probe side (vs sort-merge), and no driver-serial
    broadcast build (AQE happily broadcasts a multi-MB seen side at
    bench scale — a few seconds of SERIAL driver work that caps
    scaling at any core count and would be the wrong plan at real
    scale anyway). With the wave side already hash-partitioned on the
    key, the probe side's exchange is reused — only the seen side
    shuffles."""
    on = [key] if crawl_col is None else [crawl_col, key]
    right = seen.select(*on)
    if not assume_unique:
        right = right.distinct()
    if join_hint:
        right = right.hint(join_hint)
    return candidates.join(right, on=on, how="left_anti")


def bloom_prefilter(
    candidates: DataFrame,
    seen: DataFrame,
    key: str = "url_id",
    expected_items: int | None = None,
    fpp: float = 0.01,
    cache_registry: list | None = None,
    filter_kind: str = "bloom",
    prebuilt=None,
) -> tuple[DataFrame, DataFrame]:
    """Split candidates into (definitely_new, maybe_seen) using a
    vectorized bloom filter built over the committed seen-set
    (functions/bloom.py — per-partition distributed build, Arrow probe).

    definitely_new needs NO anti-join (bloom negatives are exact);
    maybe_seen (true hits + FPs) goes through anti_join_seen. Returns
    the pair; caller unions definitely_new with the anti-join result —
    a bloom FP can therefore never cause a false drop.

    `filter_kind='cuckoo'` swaps in the cuckoo filter
    (functions/cuckoo.py) — identical probe contract, plus in-place
    deletes for the 7-day TTL sweep (CrawlerListener.java:84-85) so
    expiry never forces a rebuild.
    """
    if prebuilt is not None:
        # checkpointed filter (north star: built at wave commit,
        # persisted in the snapshot, probed next wave) — skips the
        # O(seen) per-wave rebuild entirely
        bloom = prebuilt
    elif filter_kind == "cuckoo":
        from ..functions.cuckoo import build_from_spark as _build

        bloom = _build(seen, key=key, n_items=expected_items)
    else:
        from ..functions.bloom import build_from_spark

        bloom = build_from_spark(seen, key=key, fpp=fpp, n_items=expected_items)
    bc = candidates.sparkSession.sparkContext.broadcast(bloom)

    @F.pandas_udf(T.BooleanType())
    def maybe_seen_udf(ids: pd.Series) -> pd.Series:
        b = bc.value
        out = pd.Series(False, index=ids.index)
        nonnull = ids.dropna()
        if len(nonnull):
            out.loc[nonnull.index] = b.might_contain(nonnull)
        return out

    # persist before the two-way split: both branches scan this frame,
    # and without the cache the whole upstream (UDF canonicalization +
    # dedup window) would execute twice
    flagged = candidates.withColumn(
        "_maybe_seen", maybe_seen_udf(F.col(key))
    ).persist()
    if cache_registry is not None:
        cache_registry.append(flagged)
    definitely_new = flagged.filter(~F.col("_maybe_seen")).drop("_maybe_seen")
    maybe_seen = flagged.filter(F.col("_maybe_seen")).drop("_maybe_seen")
    return definitely_new, maybe_seen


def dedup_against_seen(
    candidates: DataFrame,
    seen: DataFrame,
    key: str = "url_id",
    crawl_col: str | None = "crawl_id",
    use_bloom: bool = True,
    seen_count: int | None = None,
    cache_registry: list | None = None,
    filter_kind: str = "bloom",
    prebuilt=None,
    assume_unique: bool = False,
    join_hint: str | None = None,
) -> DataFrame:
    """bloom/cuckoo pre-filter (fast path) + exact anti-join (decider)."""
    if not use_bloom:
        return anti_join_seen(
            candidates, seen, key, crawl_col,
            assume_unique=assume_unique, join_hint=join_hint,
        )
    new, maybe = bloom_prefilter(
        candidates, seen, key, expected_items=seen_count,
        cache_registry=cache_registry, filter_kind=filter_kind,
        prebuilt=prebuilt,
    )
    resolved = anti_join_seen(
        maybe, seen, key, crawl_col,
        assume_unique=assume_unique, join_hint=join_hint,
    )
    return new.unionByName(resolved)
