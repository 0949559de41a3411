"""Deduplication family for training-data pipelines — exact, n-gram
Jaccard, MinHash+LSH, SimHash.

Design rules for 100 TB:
- Never all-pairs: every near-dup variant goes through a BLOCKING key
  (shared shingle, LSH band bucket, simhash band) so candidate
  generation is a shuffle-join on the blocking key, not O(n²).
- All hashing is md5-based so the DuckDB oracle computes bit-identical
  results (Spark's xxhash64/hash are not portable).
- Pairs are canonicalized (id_a < id_b) to keep results order-stable.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint

# cap on the collected over-sized-bucket set for the row-local cross-band
# dedup in simhash_near_dup_pairs; past this the operator falls back to
# the distinct-based dedup instead of growing a driver-side literal
_MAX_DROPPED_BUCKETS = 8192


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (normalized) documents: returns
    (fp, dup_count, doc_ids array sorted) for groups with >1 member."""
    return (
        docs.select(F.col(id_col).alias("doc_id"),
                    fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
        )
        .where(F.col("dup_count") > 1)
    )


def exact_dedup_canonical(docs: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """(doc_id, canonical, dup_count) for every member of a duplicate
    group (>1 byte-identical normalized docs); canonical = MIN doc id
    of the group. The drop-list shape a pipeline consumes directly:
    keep ``doc_id == canonical``, drop the rest.

    Skew-safe sibling of :func:`exact_duplicates`: that one returns
    each group as ONE ``collect_list`` row — the single-row hub hazard
    at 100 TB (a 10^8-doc boilerplate group becomes one executor's
    array). Here groups only ever exist as (fp, min, count) aggregates
    — fully map-side-combinable — plus one join back on fp, so the
    biggest group costs its share of a shuffle, never one row's
    memory."""
    fps = docs.select(F.col(id_col).alias("doc_id"),
                      fingerprint(F.col(text_col)).alias("fp"))
    groups = (
        fps.groupBy("fp")
        .agg(F.min("doc_id").alias("canonical"),
             F.count(F.lit(1)).alias("dup_count"))
        .where(F.col("dup_count") > 1)
    )
    return fps.join(groups, "fp").select("doc_id", "canonical", "dup_count")


def shingles(docs: DataFrame, id_col: str, text_col: str, n: int = 3
             ) -> DataFrame:
    """(doc_id, shingle) word n-gram shingles, distinct, lowercased.

    Distinctness is per document (rows are unique by doc anyway), so it
    is enforced ROW-LOCALLY with array_distinct on the per-doc gram
    array before the explode — a narrow op, replacing the previous
    `.distinct()` whose exchange shuffled every (doc_id, shingle) row
    (guide §2.4 "a distinct on data that is already unique"; measured
    1.03s -> 0.63s at sf0.1, one Exchange removed from every consumer:
    minhash, LSH pairs, n-gram Jaccard, dup_clusters)."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    grams = F.expr(
        f"transform(sequence(1, size(_toks) - {n} + 1), "
        f"i -> array_join(slice(_toks, i, {n}), ' '))"
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"), toks.alias("_toks"))
        .where(F.size("_toks") >= n)
        .select("doc_id", F.explode(F.array_distinct(grams)).alias("shingle"))
    )


def _stream_pairs(grouped: DataFrame, keep: list[str] | None = None
                  ) -> DataFrame:
    """C(n,2) ordered pairs from a table with an ``ids`` (sorted array)
    column, generated STREAMING: chained generators — posexplode picks
    each left element, then explode of the tail slice yields its
    partners one row at a time. Peak per-row memory is O(bucket size)
    (the ids array rides along each posexplode row), never the
    O(bucket²) a single flatten(transform(...)) expression would
    materialize as one row value before its explode (ADVICE r4: a
    100k-doc bucket would OOM an executor under the flatten shape; this
    one streams the same pairs through the same single stage — both
    generators pipeline inside one WholeStageCodegen span, no extra
    shuffle, no self-join recompute of the upstream aggregation)."""
    keep = keep or []
    return (
        grouped.select(*keep, "ids",
                       F.posexplode("ids").alias("_i", "id_a"))
        .select(
            *keep, "id_a",
            F.explode(F.expr("slice(ids, _i + 2, size(ids))")).alias("id_b"),
        )
    )


def ngram_jaccard_pairs(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3,
                        threshold: float = 0.8,
                        max_shingle_df: int = 1000) -> DataFrame:
    """Near-dup pairs by n-gram Jaccard >= threshold.

    Blocking: pairs share >=1 shingle, then |A∩B| is counted and
    Jaccard computed from per-doc shingle counts — one shuffle on
    shingle + one on the pair key.

    ``max_shingle_df`` caps shingle document frequency: one
    stop-word-ish shingle shared by 10^6 docs would otherwise make a
    single O(df²) block. Hot shingles carry ~no Jaccard signal (they're
    in everything), so dropping them tightens precision too; Jaccard is
    computed over the capped shingle space on both sides of the ratio.

    Hot shingles are removed BEFORE any list aggregation (ADVICE r4): a
    cheap count aggregate (map-side combined, rows are (shingle, long))
    finds shingles over the DF cap — a set that is small by
    construction (≤ occurrences/cap members) — and an anti-join drops
    them, so no aggregation buffer ever holds a 10^6-element doc list
    for a stop-word shingle. Surviving shingles then take the
    grouped-pairs shape: sorted doc list per shingle, pairs streamed
    out via :func:`_stream_pairs` (not a shingle self-join, which would
    recompute the whole shingle pipeline twice — Catalyst does not
    reuse the exchange across a self-join, measured on linking in
    round 3).
    """
    from .cache import track

    # ONE shingle-keyed exchange feeds both shingle aggregations: the
    # persisted repartition("shingle") table satisfies the clustering of
    # the hot-count groupBy AND (through the narrow broadcast anti-join)
    # the doc-list groupBy, so neither inserts its own Exchange — the
    # previous shape shuffled the raw shingle rows twice (guide §2.4
    # "two operations keyed the same way can share one exchange";
    # min-of-6 at sf0.1: 3.04s -> 2.66s). A stop-word hub shingle makes
    # one repartition output partition large, but both consumers do
    # linear, spillable work on it (count, then anti-join drop) — the
    # collect_list still only ever sees under-cap shingles.
    sh = track(shingles(docs, id_col, text_col, n).repartition("shingle"))
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") > max_shingle_df)
        .select("shingle")
    )
    cold = sh.join(hot, "shingle", "left_anti")
    grouped = track(
        cold.groupBy("shingle")
        .agg(F.sort_array(F.collect_list(F.col("doc_id"))).alias("ids"))
    )
    sizes = (
        grouped.select(F.explode("ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_sh"))
    )
    common = (
        _stream_pairs(grouped)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    out = (
        common.join(sizes.withColumnRenamed("doc_id", "id_a")
                    .withColumnRenamed("n_sh", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("doc_id", "id_b")
              .withColumnRenamed("n_sh", "n_b"), "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("common") /
                    (F.col("n_a") + F.col("n_b") - F.col("common")), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def minhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", n: int = 3,
                       num_hashes: int = 16) -> DataFrame:
    """(doc_id, sig array<string>): minhash_i = min(md5(i || ':' ||
    shingle)) — portable (md5), deterministic.

    One groupBy with ``num_hashes`` MIN aggregates (not an explode of
    num_hashes rows per shingle): partial aggregation collapses each doc
    to a single row per map partition, so the shuffle carries one
    num_hashes-wide row per (doc, partition) instead of
    num_hashes × shingles rows. The md5 inputs and min semantics are
    unchanged, so signatures are bit-identical to the exploded form."""
    sh = shingles(docs, id_col, text_col, n)
    mins = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle"))))
        .alias(f"_mh{i}")
        for i in range(num_hashes)
    ]
    return (
        sh.groupBy("doc_id")
        .agg(*mins)
        .select(
            "doc_id",
            F.array(*[F.col(f"_mh{i}") for i in range(num_hashes)])
            .alias("sig"),
        )
    )


def lsh_band_buckets(sig: DataFrame, bands: int, rows: int) -> DataFrame:
    """(doc_id, band, bucket) from a (doc_id, sig: array) signature
    table: band b's bucket is md5 over EXACTLY signature positions
    [b*rows, (b+1)*rows) joined with '|'. Extracted from
    minhash_lsh_pairs so the slice arithmetic has a direct unit oracle
    (test_lsh_band_buckets pins it to a Python md5 twin) — an off-by-one
    here shifts every bucket CONSISTENTLY, which pair-level oracles on
    exact-duplicate-dominated corpora cannot see (the round-5 LLM-ops
    mutation sweep found exactly that blind spot)."""
    return sig.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), "
                f"b -> struct(b as band, md5(array_join(slice(sig, b * {rows} + 1, {rows}), '|')) as bucket))"
            )
        ).alias("g"),
    ).select("doc_id", F.col("g.band").alias("band"),
             F.col("g.bucket").alias("bucket"))


def minhash_lsh_pairs(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3,
                      num_hashes: int = 16, bands: int = 4,
                      max_bucket_size: int = 4096) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash LSH: signatures split
    into ``bands`` bands of num_hashes/bands rows; docs sharing any band
    bucket become a candidate pair. Shuffle key = (band, bucket-hash) —
    the 100 TB-safe shape (no all-pairs).

    ``max_bucket_size`` drops degenerate buckets (ADVICE r4): a bucket
    of b docs emits C(b,2) pairs, so one boilerplate bucket at 100k docs
    is 5e9 pairs of pure O(n²) compute. Buckets over the cap are almost
    always a single near-identical boilerplate group — downstream exact
    dedup (or a cluster pass on the surviving pairs) handles those more
    cheaply than enumerating every pair. The recall trade is the same
    one the shingle-DF cap makes; pairs inside kept buckets stream via
    :func:`_stream_pairs` (O(bucket) per-row memory, not one C(b,2)
    array materialized per bucket row)."""
    rows = num_hashes // bands
    sig = minhash_signatures(docs, id_col, text_col, n, num_hashes)
    buckets = lsh_band_buckets(sig, bands, rows)
    # grouped-pairs, not a bucket self-join: a self-join realiases one
    # side and recomputes the whole minhash pipeline twice (Catalyst
    # does not reuse the exchange); collecting the sorted doc list per
    # bucket and streaming C(n,2) pairs out of it shuffles once
    grouped = buckets.groupBy("band", "bucket").agg(
        F.sort_array(F.collect_list(F.col("doc_id"))).alias("ids")
    ).where((F.size("ids") >= 2) & (F.size("ids") <= max_bucket_size))
    return _stream_pairs(grouped).select("id_a", "id_b").distinct()


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            bits: int = 16) -> DataFrame:
    """(doc_id, simhash long): classic simhash over unigram tokens with
    md5-derived bit vectors — each bit b weighted +1/-1 by token presence
    count; bit set when the sum is positive. ``bits`` up to 64 (the
    production width); bit 63 lands in the long's sign bit, so 64-bit
    hashes can be negative — Hamming via xor + bit_count is unaffected."""
    assert 1 <= bits <= 64, "simhash width is 1..64 (one long)"
    # bit b of md5 (b < 32): low bit of hex nibble b; bits 32..63 reuse
    # the nibbles' SECOND bit (digit value & 2) — two independent bit
    # lanes from the same 32 hex chars (round-4 trap: reading hex digit
    # b directly silently zeroed bits >= 32). The per-token bit vector
    # is packed into ONE long with two conv() calls + integer
    # shift/mask, replacing the previous per-bit substring+isin CASEs
    # (64 string slices and up to 512 char compares per token row — the
    # measured 90% of doc_simhash64's wall; guide §2.3 "narrower types"
    # applied to the aggregation input). conv(·,16,-10) reads 16 hex
    # chars as one signed long; arithmetic shift + &15 extracts each
    # nibble regardless of sign.
    def _nib(i: int) -> str:
        src, pos = ("_x", i) if i < 16 else ("_y", i - 16)
        return f"(shiftright({src}, {(15 - pos) * 4}) & 15)"

    def _bit(b: int) -> str:
        if b < 32:                       # lane 0: nibble b & 1
            return f"({_nib(b)} & 1)"
        return f"((shiftright({_nib(b - 32)}, 1)) & 1)"  # lane 1: & 2

    bv = " | ".join(f"(shiftleft({_bit(b)}, {b}))" for b in range(bits))
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
        .alias("tok"),
    ).select("doc_id", F.md5(F.col("tok")).alias("h")).select(
        "doc_id",
        F.expr("cast(conv(substring(h, 1, 16), 16, -10) as bigint)")
        .alias("_x"),
        F.expr("cast(conv(substring(h, 17, 16), 16, -10) as bigint)")
        .alias("_y"),
    ).select("doc_id", F.expr(bv).alias("_bv"))
    # ONE groupBy: summing ±1 per token occurrence equals the classic
    # ±count(tok) per distinct token, so no (doc, tok) pre-aggregation
    # is needed, and map-side partial agg ships one row per
    # (doc, partition) instead of bits × tokens rows — one shuffle
    # total. s_b = Σ±1 = 2·Σbit_b − n, so the per-bit aggregates are
    # plain integer SUMs of (bv >> b) & 1 plus one shared COUNT; the
    # sign test s_b > 0 becomes 2·sum_b > n (identical integers).
    # TWO bit-count lanes ride each SUM: bits b and b+half share one
    # long (low lane in bits 0..31, high lane shifted to 32..63), so a
    # 64-bit simhash needs 32 aggregate buffers instead of 64 — halving
    # the per-row aggregate update work and the partial-agg row width
    # (guide §2.3 "narrower types"). Carry-free because each lane's sum
    # is bounded by the doc's token count < 2^31 (a document is one
    # Spark string, capped at 2 GiB).
    half = (bits + 1) // 2
    sums = []
    for b in range(half):
        hi = b + half
        if hi < bits:
            e = (f"((shiftright(_bv, {b}) & 1) | "
                 f"shiftleft(shiftright(_bv, {hi}) & 1, 32))")
        else:
            e = f"(shiftright(_bv, {b}) & 1)"
        sums.append(F.sum(F.expr(e)).alias(f"_p{b}"))
    fused = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("_n"), *sums)
    sim = F.lit(0).cast("long")
    for b in range(bits):
        # unpack: low lane = masked low 32 bits, high lane = upper 32
        # (sums are non-negative, so the arithmetic shift is exact)
        s_b = (F.expr(f"_p{b} & 4294967295") if b < half
               else F.expr(f"shiftright(_p{b - half}, 32)"))
        # bitwiseOR of disjoint bits == sum, but stays overflow-free for
        # bit 63 (shiftleft(1L, 63) is long-min — ANSI-safe, no add)
        term = F.when(2 * s_b > F.col("_n"),
                      F.expr(f"shiftleft(1L, {b})")) \
            .otherwise(F.lit(0).cast("long"))
        sim = sim.bitwiseOR(term)
    return fused.select("doc_id", sim.alias("simhash"))


def simhash_near_dup_pairs(docs: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", bits: int = 16,
                           n_bands: int = 4, max_hamming: int = 3,
                           max_bucket_size: int = 4096) -> DataFrame:
    """Near-dup pairs by simhash Hamming distance <= ``max_hamming``.
    Returns (id_a, id_b, hamming), id_a < id_b.

    Banded blocking with a pigeonhole guarantee: the hash splits into
    ``n_bands`` equal bands; a pair within Hamming distance
    ``n_bands - 1`` must agree on at least one whole band, so with
    ``max_hamming <= n_bands - 1`` the blocking is EXACT — no recall
    loss vs all-pairs (asserted). Candidates are generated with the
    same grouped-pairs shape as ngram_jaccard_pairs (sorted doc list
    per (band, value) bucket, pairs STREAMED out via
    :func:`_stream_pairs` — one shuffle, no self-join recompute, O(n)
    per-row memory), deduped across bands, then verified with a single
    integer xor + bit_count per pair. ``max_bucket_size`` (default
    4096, matching embedding_near_dup_pairs's cell cap) bounds the
    O(n²) pair compute for degenerate buckets, trading bounded recall
    like the shingle-DF cap — ADVICE r4: the old 100k default was
    sized for a streaming self-join's cost model, not for pair
    enumeration (C(100k,2) ≈ 5e9 candidates from one bucket).

    Reference parity: the reference has no simhash family — this is
    part of the training-data-pipeline extension surface
    (SURVEY.md §2.10 / COVERAGE.md LLM-ops)."""
    assert bits % n_bands == 0, "bands must divide the hash width"
    assert max_hamming <= n_bands - 1, (
        "banded blocking is only exact for max_hamming <= n_bands - 1")
    from .cache import track

    w = bits // n_bands
    mask = (1 << w) - 1
    sh = track(simhash(docs, id_col, text_col, bits))
    bands = sh.select(
        "doc_id",
        "simhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(i).alias("band"),
                F.expr(f"shiftright(simhash, {i * w}) & {mask}").alias("val"),
            )
            for i in range(n_bands)
        ])).alias("bv"),
    ).select("doc_id", "simhash", "bv.band", "bv.val")
    # signatures RIDE THROUGH the buckets as (doc_id, simhash) structs,
    # so the xor verify runs in place on each streamed pair — no join
    # back to the signature table. The old shape (distinct candidates,
    # then TWO shuffle joins to fetch h_a/h_b) moved the full candidate
    # set through three exchanges; on a saturated corpus (16-bit demo
    # width, sf0.1: 9.1M pairs) those joins were ~80% of the wall.
    # sort_array on the struct orders by doc_id (unique), preserving
    # id_a < id_b. The bucket COUNT rides the same aggregate, so the
    # dropped-bucket scan below reads this (persisted) table instead of
    # re-aggregating the banded rows a second time — one shuffle pass
    # over the bands instead of two (min-of-6: 16-bit 3.31s -> 2.13s,
    # 64-bit 2.66s -> 2.23s at sf0.1). The over-cap collect_list row is
    # no new hazard: the size filter always ran post-aggregation.
    grouped_all = track(
        bands.groupBy("band", "val")
        .agg(F.count(F.lit(1)).alias("_n"),
             F.sort_array(
                 F.collect_list(F.struct(F.col("doc_id"), F.col("simhash")))
             ).alias("ids"))
    )
    grouped = grouped_all.where(
        (F.col("_n") >= 2) & (F.col("_n") <= max_bucket_size))
    pairs = (
        _stream_pairs(grouped, keep=["band"])
        .select(
            "band",
            F.col("id_a.doc_id").alias("id_a"),
            F.col("id_b.doc_id").alias("id_b"),
            F.col("id_a.simhash").alias("h_a"),
            F.col("id_b.simhash").alias("h_b"),
        )
    )
    # Cross-band dedup WITHOUT the distinct exchange (guide §2.4): a pair
    # is emitted only from its LOWEST kept matching band, a row-local
    # test (both signatures are in the row), so every surviving pair is
    # unique by construction and the old post-verify `.distinct()` —
    # measured 10.4s of dedup_simhash_pairs' 14.6s at sf0.1 (the full
    # saturated candidate set through one more exchange + hash dedup) —
    # disappears. A lower band i matches iff the band-i slices agree;
    # that bucket then holds both docs (size >= 2), so it was KEPT
    # unless it exceeded max_bucket_size. The over-cap buckets are few
    # by construction (<= rows/cap); they are collected (bounded) and
    # inlined as per-band InSet literals. If a corpus produces more
    # dropped buckets than the bound, fall back to the old
    # distinct-based dedup — identical output either way.
    dropped = (
        grouped_all.where(F.col("_n") > max_bucket_size)
        .select("band", "val")
        .limit(_MAX_DROPPED_BUCKETS + 1)
        .collect()
    )
    if dropped:
        # the cap's recall trade is otherwise invisible at runtime
        # (ADVICE r5): surface how many buckets were dropped
        logging.getLogger(__name__).warning(
            "simhash_near_dup_pairs: %s bucket(s) over max_bucket_size=%d "
            "dropped from pair generation",
            f">{_MAX_DROPPED_BUCKETS}" if len(dropped) > _MAX_DROPPED_BUCKETS
            else len(dropped), max_bucket_size)
    verified = F.expr("bit_count(h_a ^ h_b)").cast("int") <= F.lit(max_hamming)
    if len(dropped) > _MAX_DROPPED_BUCKETS:
        return (
            pairs.where(verified)
            .select(
                "id_a", "id_b",
                F.expr("bit_count(h_a ^ h_b)").cast("int").alias("hamming"))
            .distinct()
        )
    dropped_by_band: dict[int, set[int]] = {}
    for r in dropped:
        dropped_by_band.setdefault(r["band"], set()).add(r["val"])

    def _blocked(i: int) -> Column:
        """Band i < row's band already emitted this pair?"""
        val_a = F.expr(f"shiftright(h_a, {i * w}) & {mask}")
        val_b = F.expr(f"shiftright(h_b, {i * w}) & {mask}")
        m = val_a == val_b
        drop_set = dropped_by_band.get(i)
        if drop_set:
            m = m & ~val_a.isin(*[int(v) for v in drop_set])
        return m

    emit = F.lit(True)
    for b in range(1, n_bands):
        cond = F.lit(True)
        for i in range(b):
            cond = cond & ~_blocked(i)
        emit = F.when(F.col("band") == b, cond).otherwise(emit)
    return (
        pairs.where(emit & verified)
        .select("id_a", "id_b",
                F.expr("bit_count(h_a ^ h_b)").cast("int").alias("hamming"))
    )


BROADCAST_LABELS_MAX_ROWS = 2_000_000


def dup_clusters(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
                 max_iterations: int = 40) -> DataFrame:
    """Connected components over a near-dup pair graph → (doc_id,
    canonical), canonical = MIN doc id in the component. The step a real
    dedup pipeline runs after pair generation: keep ``doc_id ==
    canonical``, drop the rest.

    Iterative min-label propagation WITH pointer jumping: each round
    every node takes the min of its own label, its neighbors' labels,
    and its label's label (path halving). Neighbor propagation alone
    converges in O(component diameter) rounds — fine for the star-ish
    components exact dups produce, but a boilerplate-drift chain
    (a~b~c~...) makes the diameter linear; the jump term doubles the
    propagation reach per round, so convergence is O(log n) on ANY
    component shape (measured: a 10k-node path converges in 16 rounds
    where plain propagation needs 10k). Jumping is sound because labels
    only ever take node-id values and are monotone: label(u) <= u, so
    label(label(v)) <= label(v) and the fixpoint (labels constant per
    component = component min) is unchanged. Monotone min is cycle-safe
    and deterministic. Frontier bookkeeping matches
    operators/closure.py: labels are localCheckpoint-ed per round so
    lineage stays flat, and the convergence probe is a limit-1 isEmpty,
    not a full count.

    Only docs that appear in ``pairs`` get a row (singletons are their
    own canonical by definition — callers union them back if needed).
    """
    e = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = (
        e.unionByName(e.select(F.col("dst").alias("src"),
                               F.col("src").alias("dst")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    # the node set is CONSTANT across rounds (every round relabels the
    # same nodes), so one count up front decides the join strategy for
    # the whole fixpoint: below BROADCAST_LABELS_MAX_ROWS the label table
    # is broadcast into the propagation and convergence joins (guide
    # §3.1) — the cached edge table then streams with no per-round
    # shuffle (the old sort-merge join re-exchanged edges on src every
    # round), leaving the min-label groupBy as the round's only
    # exchange. Giant graphs fall back to the shuffle join unchanged.
    n_nodes = labels.count()
    small = n_nodes <= BROADCAST_LABELS_MAX_ROWS
    for _ in range(max_iterations):
        lab = F.broadcast(labels) if small else labels
        prop = edges.join(lab, edges["src"] == lab["node"]).select(
            F.col("dst").alias("node"), F.col("label")
        )
        # pointer jump: (node, label(label(node))) — label values are
        # node ids, so every label has a row in labels and the inner
        # join is total. Reads only the checkpointed labels table twice;
        # broadcast on the small tier like the propagation join.
        roots = labels.select(F.col("node").alias("_ln"),
                              F.col("label").alias("_ll"))
        jump = labels.join(F.broadcast(roots) if small else roots,
                           labels["label"] == F.col("_ln")).select(
            F.col("node"), F.col("_ll").alias("label")
        )
        # own rows ride the aggregate tagged, so each node's OLD label
        # comes out of the same groupBy as the new min (every node has
        # exactly one own row) and convergence is a row-local filter on
        # the checkpointed aggregate — the previous per-round probe
        # (broadcast join of new vs old labels, its own job + broadcast
        # build) disappears. Measured min-of-4 at sf0.1: 4.76s -> 4.11s
        # for the dedup_clusters query, output identical.
        agg = (
            prop.withColumn("_own", F.lit(False))
            .unionByName(jump.withColumn("_own", F.lit(False)))
            .unionByName(labels.select("node", "label")
                         .withColumn("_own", F.lit(True)))
            .groupBy("node")
            .agg(F.min("label").alias("label"),
                 F.min(F.when(F.col("_own"), F.col("label"))).alias("_old"))
            .localCheckpoint(eager=True)
        )
        converged = (
            agg.where(F.col("label") != F.col("_old")).limit(1).isEmpty()
        )
        labels = agg.select("node", "label")
        if converged:
            edges.unpersist()
            return labels.select(F.col("node").alias("doc_id"),
                                 F.col("label").alias("canonical"))
    edges.unpersist()
    raise RuntimeError(f"no fixpoint after {max_iterations} iterations")
