"""B4/B5 — LSH banding with exchange-free pair dedup + salted oversize
block chaining.

The 256-bit signature is cut into ``n_bands`` contiguous bands of
``256 / n_bands`` bits each. Two signatures within hamming distance d are
*guaranteed* to agree on at least one band whenever d < n_bands (pigeonhole
— the generalization of the reference's early-exit pruning idea,
python_hexhamming.cc:62-64, moved from inside the scalar loop up to the
plan level: prune pairs before scoring instead of mid-scoring).

Beyond the pigeonhole radius the recall is probabilistic, and callers gate
scoring more loosely than the guarantee: at the default n_bands=16 the
guarantee covers d < 16, while the pipeline's default scoring gate is
max_dist=40 — for a pair at d=40 with uniformly spread differing bits the
chance that at least one of 16 16-bit bands is clean is
1-(1-((256-40)/256)^16)^16 ≈ 0.67, rising steeply as d drops (≈0.97 at
d=25). SimHash distances of true near-duplicates concentrate far below the
gate, so missed-pair mass is small; recall-critical deployments raise
n_bands (32 bands of 8 bits guarantee d < 32 and give ≈0.9998 at d=40)
and pay proportionally more band-exchange volume.

Plan shape (the 100TB-relevant properties):

1. Band values are INTEGERS (bit slices of the signature chunks), not hex
   substrings — the band exchange and its sort compare 8-byte longs, not
   UTF8 strings.
2. Pair dedup ("a pair agreeing on k bands must score once, not k times")
   is a pure CODEGEN FILTER, not an aggregation: each joined row carries
   both full signatures as chunk longs, so it can recompute the complete
   band-match bitmask and keep the row only when its own band is the FIRST
   matching band that was not suppressed by the skew gate. This removes
   the pair-stream dedup exchange entirely — at scale that shuffle is
   quadratic-ish in block size while the band exchange is linear, so it
   dominates blocking cost.
3. Skew (B5, explicit per north_rule): blocks larger than ``max_block``
   do NOT generate all-pairs joins and are NOT dropped (a boilerplate
   near-dup mega-cluster agrees on *every* band, so dropping oversize
   blocks would silently drop exactly the clusters dedup exists to find).
   Instead each oversize block is salt-split into groups of ~max_block by
   pmod(xxhash64(conv_id), n_salt); within each salt group members are
   chained by signature order (size-1 adjacent pairs from one window
   lead()), and the per-group representatives are chained across groups.
   A path through every member preserves cluster connectivity with
   O(size) pairs instead of O(size^2), fully parallel across salt groups.
   All of this reuses the same band exchange (window partition keys
   refine the exchange's hash keys — no extra shuffle).
4. One engine for batch and fold: candidate_pairs_wide is the only
   band-join implementation. The incremental fold
   (pipeline/incremental.py) passes old and new signatures together with
   an ``is_new`` flag column, and the same plan is restricted to pairs
   with at least one new side — the old-old quadrant is never joined.

Exactness of the filter-based dedup: for a joined pair let
``match`` = bitmask of bands where the signatures agree, and ``banned`` =
bitmask of bands whose block for this pair exceeds max_block (a per-conv
mask; on a matching band both sides are in the SAME block, so either
side's bit is valid). The normal branch emits the pair exactly at the
lowest set bit of ``match & ~banned``; the chain branch emits an adjacent
or representative pair exactly at the lowest set bit of ``match & banned``
and only when ``match & ~banned == 0`` (otherwise the normal branch
already emitted it). Every emitted pair is therefore emitted exactly once
across both branches. A chain pair suppressed because its first banned
matching band is a different block stays connected through that block's
own chain, so cluster-level connectivity is preserved.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

SIG_HEX_CHARS = 64  # 256 bits
_CHUNK_HEX = 8      # 8 hex chars = 32 bits per chunk


def band_projection(signatures: DataFrame, n_bands: int = 16) -> DataFrame:
    """signatures → bands(conv_id, band_id, band_val).

    band_val is the band's slice of sig_hex — a fixed-width hex substring,
    computed JVM-side (no UDF, no shuffle). Kept for observability /
    block-statistics queries; candidate generation uses the integer band
    values below.
    """
    assert SIG_HEX_CHARS % n_bands == 0, "n_bands must divide 64"
    w = SIG_HEX_CHARS // n_bands
    slices = F.array(
        *[F.substring("sig_hex", i * w + 1, w) for i in range(n_bands)]
    )
    return signatures.select(
        "conv_id", F.posexplode(slices).alias("band_id", "band_val")
    )


def _band_geometry(n_bands: int) -> tuple[int, int]:
    """(hex chars per band, bits per band); bands must not straddle the
    32-bit chunk boundary so each band is a bit slice of ONE chunk long."""
    assert SIG_HEX_CHARS % n_bands == 0, "n_bands must divide 64"
    w_hex = SIG_HEX_CHARS // n_bands
    assert w_hex <= _CHUNK_HEX and _CHUNK_HEX % w_hex == 0, (
        "band width must divide the 32-bit chunk (n_bands >= 8)"
    )
    return w_hex, 4 * w_hex


def _band_val_int(b: int, n_bands: int, side: str = "") -> Column:
    """Integer value of band b extracted from the signature chunk longs
    c{i}[_side]: pure codegen bit arithmetic, no strings."""
    w_hex, w_bits = _band_geometry(n_bands)
    chunk = (b * w_hex) // _CHUNK_HEX
    off = (b * w_hex) % _CHUNK_HEX          # hex-char offset inside chunk
    shift = 4 * (_CHUNK_HEX - off - w_hex)  # bits below the band in chunk
    col = F.col(f"c{chunk}_{side}" if side else f"c{chunk}")
    v = F.shiftright(col, shift) if shift else col
    return v.bitwiseAND(F.lit((1 << w_bits) - 1))


def _band_match_bit(b: int, n_bands: int) -> Column:
    """True iff band b of sides a/b agree — tested on the XOR of the chunk
    longs, masked to the band's bit range (no per-side extraction)."""
    w_hex, w_bits = _band_geometry(n_bands)
    chunk = (b * w_hex) // _CHUNK_HEX
    off = (b * w_hex) % _CHUNK_HEX
    shift = 4 * (_CHUNK_HEX - off - w_hex)
    mask = ((1 << w_bits) - 1) << shift
    x = F.col(f"c{chunk}_a").bitwiseXOR(F.col(f"c{chunk}_b"))
    return x.bitwiseAND(F.lit(mask)) == 0


def _match_mask(n_bands: int) -> Column:
    """Long bitmask over all bands: bit b set iff band b matches.
    shiftleft (not a Python int literal) so bit 63 stays inside Spark's
    long literal range at n_bands=64."""
    expr = None
    for b in range(n_bands):
        term = F.when(
            _band_match_bit(b, n_bands), F.expr(f"shiftleft(1L, {b})")
        ).otherwise(F.lit(0).cast("long"))
        expr = term if expr is None else expr + term
    return expr.cast("long")


def shared_band_count(n_bands: int = 16) -> Column:
    """CBS meta-blocking weight of a WIDE pair row: how many bands the two
    signatures agree on — a popcount of the band-match bitmask computed
    from the carried c{i}_a/c{i}_b chunk longs. Pure codegen, no join back
    to any membership table. Because bands are positional (band b of one
    signature can only share a block with band b of the other), this IS
    the Common Blocks Scheme weight of the LSH block collection
    (pipeline/metablocking.py) evaluated per pair for free."""
    expr = None
    for b in range(n_bands):
        t = F.when(_band_match_bit(b, n_bands), 1).otherwise(0)
        expr = t if expr is None else expr + t
    return expr.cast("long")


def sig_chunks_raw():
    """The 8 x 32-bit chunk expressions of sig_hex without side suffix
    (single definition in scoring.sig_chunks_raw; re-exported here for the
    band-slice call sites)."""
    from .scoring import sig_chunks_raw as _raw

    return _raw()


def banded_with_skew_gate(
    sigs_c: DataFrame, band_vals: Column, max_block: int
) -> tuple[DataFrame, DataFrame, bool, DataFrame]:
    """The adaptive skew gate of candidate_pairs_wide, batch and fold
    alike: compute per-block sizes, probe ONCE at plan-build time for
    blocks above ``max_block``, and attach the per-conv banned-band
    bitmask only when some block is oversize (otherwise every mask is a
    zero literal and the whole skew subplan is left out of the plan —
    detecting skew needs the sizes aggregation either way, so the probe is
    one cheap scan; it is the same decide-at-runtime move AQE makes for
    skew joins, applied one level up).

    The oversize list is materialized with localCheckpoint rather than
    persist: it is consumed by several subtrees (probe, banned-mask build,
    chain-branch broadcasts) but a persist() entry in the CacheManager is
    never released without an explicit unpersist the callers cannot reach
    — checkpointed RDD blocks are freed by the ContextCleaner once the
    plan is garbage collected, so repeated calls in a long-lived
    application do not accumulate cache entries. It is tiny by
    construction (one row per >max_block block). Trade-off: localCheckpoint
    truncates lineage, so on a real cluster losing the executor holding
    these (tiny, replicated-in-memory) blocks fails the job instead of
    recomputing — acceptable for a <KB side-table, but a deployment with a
    configured checkpoint dir should prefer reliable checkpoint() here.

    Returns (sigs_b = sigs_c + banned column, oversize, has_oversize,
    block_stats).
    """
    bands_raw = sigs_c.select(
        "conv_id", F.posexplode(band_vals).alias("band_id", "band_val")
    )
    sizes = bands_raw.groupBy("band_id", "band_val").agg(
        F.count(F.lit(1)).alias("block_size")
    )
    block_stats = sizes.withColumn("skipped", F.col("block_size") > F.lit(max_block))
    oversize = sizes.where(F.col("block_size") > max_block).localCheckpoint(eager=True)
    has_oversize = not oversize.isEmpty()
    if has_oversize:
        banned = (
            bands_raw.join(
                oversize.select("band_id", "band_val"), ["band_id", "band_val"]
            )
            .groupBy("conv_id")
            .agg(F.sum(F.expr("shiftleft(1L, band_id)")).alias("banned"))
        )
        sigs_b = sigs_c.join(banned, "conv_id", "left").withColumn(
            "banned", F.coalesce(F.col("banned"), F.lit(0).cast("long"))
        )
    else:
        # no oversize blocks: every banned mask is zero; the bit-test
        # filters downstream keep the exactly-once guarantee unchanged
        sigs_b = sigs_c.withColumn("banned", F.lit(0).cast("long"))
    return sigs_b, oversize, has_oversize, block_stats


def _pair_projection(n_chunks: int, swap: Column):
    """Select-list producing the canonical (conv_id_a < conv_id_b) wide
    pair columns from a row carrying own + neighbor ("nb") payloads,
    swapping sides when the neighbor sorts first."""
    def pick(own: Column, nb: Column, a_side: bool):
        take_own = ~swap if a_side else swap
        return F.when(take_own, own).otherwise(nb)

    cols = [
        pick(F.col("conv_id"), F.col("nb.conv_id"), True).alias("conv_id_a"),
        pick(F.col("conv_id"), F.col("nb.conv_id"), False).alias("conv_id_b"),
        pick(F.col("canon"), F.col("nb.canon"), True).alias("canon_a"),
        pick(F.col("canon"), F.col("nb.canon"), False).alias("canon_b"),
    ]
    for i in range(n_chunks):
        cols.append(pick(F.col(f"c{i}"), F.col(f"nb.c{i}"), True).alias(f"c{i}_a"))
        cols.append(pick(F.col(f"c{i}"), F.col(f"nb.c{i}"), False).alias(f"c{i}_b"))
    # only the A-side banned mask is needed downstream: on every matching
    # band both sides sit in the same block, so either side's bit is valid
    cols.append(
        pick(F.col("banned"), F.col("nb.banned"), True).alias("banned_a")
    )
    return cols


def candidate_pairs_wide(
    signatures: DataFrame,
    n_bands: int = 16,
    max_block: int = 2000,
) -> tuple[DataFrame, DataFrame]:
    """LSH-blocked candidate pairs that CARRY both sides' signature chunks
    and canonical keys out of the band self-join, each pair emitted
    EXACTLY ONCE with zero pair-stream shuffles (see module docstring).

    Plan: ONE full-width band exchange feeds the self-join (both sides via
    ReusedExchange). The skew gate is a codegen bit-test on the per-conv
    banned-band mask — no window, no sort beyond the join's own. Block
    sizes travel through a tiny aggregated side-channel (sizes/oversize/
    banned are all small by construction and AQE broadcasts them).

    New-vs-all mode (module docstring, point 4): when ``signatures``
    carries a boolean ``is_new`` column, only pairs with at least one new
    side are emitted:

    1. the join's A side is filtered to new rows, and each pair is
       emitted once via ``a.id != b.id AND (a.id < b.id OR NOT
       b.is_new)`` (new-new pairs once in id order, new-old pairs once
       with the new side on A), then swapped back to canonical order;
    2. oversize blocks chain old and new members TOGETHER in signature
       order, but chain links with no new side are dropped. Old members
       are already connected by the prior run's clusters; new members
       connect to them through signature-adjacent old members
       (hamming-0 links in identical-sig mega blocks), which survive the
       scoring gate.

    Block sizes and banned masks are computed over ALL rows, new and old
    — the sizes the equivalent full batch run sees, which is what makes
    the fold reproduce the batch clusters. Without ``is_new`` the plan
    carries no side swaps and no ``is_new`` filters.

    Returns (pairs_wide, block_stats); pairs_wide has conv_id_a/b,
    canon_a/b, c{i}_a/b signature chunk longs. block_stats(band_id,
    band_val, block_size, skipped) — `skipped` marks oversize blocks
    routed to the salted chain branch (observability, per north_rule's
    "skew handled explicitly").
    """
    from .scoring import N_CHUNKS

    new_vs_all = "is_new" in signatures.columns
    flag = ["is_new"] if new_vs_all else []
    chunk_cols = [c.alias(f"c{i}") for i, c in enumerate(sig_chunks_raw())]
    sigs_c = signatures.select("conv_id", "canon", *flag, *chunk_cols)
    band_vals = F.array(*[_band_val_int(b, n_bands) for b in range(n_bands)])

    sigs_b, oversize, has_oversize, block_stats = banded_with_skew_gate(
        sigs_c, band_vals, max_block
    )

    bands = sigs_b.select(
        "conv_id", "canon", "banned", *flag,
        *[f"c{i}" for i in range(N_CHUNKS)],
        F.posexplode(band_vals).alias("band_id", "band_val"),
    )
    # bits [0, band_id): pure bit expression — `shiftleft(1L, band_id) - 1`
    # overflows under ANSI mode at band_id=63 (1<<63 = Long.MinValue, the -1
    # then underflows), so n_bands=64 would fail at runtime. bitwise_not of
    # a -1 shifted left has no arithmetic step: ~(-1 << 0) = 0, ~(-1 << 63)
    # = 2^63 - 1.
    low_bits = F.expr("~ shiftleft(-1L, band_id)")

    # ---- normal branch: band rows whose own block is not oversize -------
    # (blocks of size 1 pass through; they produce no join output and are
    # not worth a count-window — the exchange volume is the same either
    # way and the bit-test below is free codegen)
    kept = bands.where(F.expr("(shiftright(banned, band_id) & 1) = 0"))
    a = kept.alias("a")
    b = kept.alias("b")
    on = (F.col("a.band_id") == F.col("b.band_id")) & (
        F.col("a.band_val") == F.col("b.band_val")
    )
    if new_vs_all:
        a = kept.where(F.col("is_new")).alias("a")
        on = (
            on
            & (F.col("a.conv_id") != F.col("b.conv_id"))
            & ((F.col("a.conv_id") < F.col("b.conv_id")) | ~F.col("b.is_new"))
        )
        swap = F.col("b.conv_id") < F.col("a.conv_id")
    else:
        on = on & (F.col("a.conv_id") < F.col("b.conv_id"))
        swap = None

    def side(col: str, a_side: bool) -> Column:
        """Column of the canonical A (or B) side: a.* / b.* as joined,
        or the swap CASE in new-vs-all mode."""
        if swap is None:
            return F.col(f"a.{col}" if a_side else f"b.{col}")
        take_a = ~swap if a_side else swap
        return F.when(take_a, F.col(f"a.{col}")).otherwise(F.col(f"b.{col}"))

    joined = a.join(b, on).select(
        F.col("a.band_id").alias("band_id"),
        side("conv_id", True).alias("conv_id_a"),
        side("conv_id", False).alias("conv_id_b"),
        side("canon", True).alias("canon_a"),
        side("canon", False).alias("canon_b"),
        # on a matching band both sides sit in the same block, so either
        # side's banned bit is valid at every band the pair agrees on
        F.col("a.banned").alias("banned_a"),
        *[side(f"c{i}", True).alias(f"c{i}_a") for i in range(N_CHUNKS)],
        *[side(f"c{i}", False).alias(f"c{i}_b") for i in range(N_CHUNKS)],
    )
    eff = _match_mask(n_bands).bitwiseAND(F.bitwise_not(F.col("banned_a")))
    normal = (
        joined.withColumn("eff", eff)
        .where(F.col("eff").bitwiseAND(low_bits) == 0)
        .drop("eff", "band_id", "banned_a")
    )

    out_cols = [
        "conv_id_a", "conv_id_b", "canon_a", "canon_b",
        *[f"c{i}_a" for i in range(N_CHUNKS)],
        *[f"c{i}_b" for i in range(N_CHUNKS)],
    ]
    if not has_oversize:
        return normal.select(*out_cols), block_stats

    # ---- chain branch: oversize blocks, salted path instead of drop -----
    # input is ONLY the band rows of oversize blocks (usually none/few);
    # its windows exchange just those rows, independent of the main join.
    over = (
        bands.where(F.expr("(shiftright(banned, band_id) & 1) = 1"))
        .join(
            F.broadcast(oversize.select("band_id", "band_val", "block_size")),
            ["band_id", "band_val"],
        )
        .withColumn(
            "salt",
            F.pmod(
                F.xxhash64("conv_id"),
                F.ceil(F.col("block_size") / F.lit(max_block)).cast("long"),
            ),
        )
    )
    chunk_names = [f"c{i}" for i in range(N_CHUNKS)]
    order_cols = [*chunk_names, "conv_id"]
    payload = F.struct("conv_id", "canon", "banned", *flag, *chunk_names)

    wg = Window.partitionBy("band_id", "band_val", "salt").orderBy(*order_cols)
    adjacent = over.withColumn("nb", F.lead(payload).over(wg))
    # Cross-group links must survive the downstream SCORING gate, not just
    # connect candidates: a true near-dup cluster fills its blocks with
    # (near-)identical signatures, but unrelated rows that merely collide
    # into the block on this one band sit in the same salt groups. With one
    # representative per group (the old design), a collider picked as rep
    # breaks the rep chain post-gate — rep-rep links at hamming ~128 never
    # pass max_dist, and the cluster's groups disconnect (found by
    # scripts/skew_bench.py). Fix: one rep per (group, DISTINCT SIGNATURE)
    # — each group's sig-run is contiguous in the group chain and its first
    # member becomes the run's rep — and the rep chain is sorted by
    # signature, so all reps of an identical-sig cluster are mutually
    # adjacent (hamming-0 links) regardless of which colliders share the
    # block. Cost: #reps = Σ_g distinct sigs in g ≤ block size; for real
    # mega-blocks (low-entropy/boilerplate content) distinct sigs ≪ size.
    # Worst case (all sigs distinct) the rep window degrades to one sorted
    # task over the block — the case where chain links matter least, since
    # all-distinct random sigs fail the gate anyway.
    wgs = Window.partitionBy("band_id", "band_val", "salt", *chunk_names).orderBy(
        "conv_id"
    )
    reps = (
        adjacent.withColumn("srn", F.row_number().over(wgs))
        .where(F.col("srn") == 1)
        .drop("nb", "srn")
    )
    wr = Window.partitionBy("band_id", "band_val").orderBy(*order_cols)
    rep_pairs = reps.withColumn("nb", F.lead(payload).over(wr))
    # A singleton sig-run's rep link can coincide with the group chain's
    # adjacent link (both connect the same two members in the same band).
    # Dedup HERE on plain columns — both sources emit the pair in the same
    # ascending-sig orientation, so (band, own id, neighbor id) is a key.
    # Deduping after the wide pair projection instead would wrap every
    # swap-CASE chunk expression in a First() aggregate, which blows up
    # Catalyst's optimizer fixed-point (measured: minutes of driver time
    # on a 40-row block).
    chain_src = adjacent.unionByName(rep_pairs, allowMissingColumns=False).where(
        F.col("nb").isNotNull()
    )
    if new_vs_all:
        # old-old links are the prior run's connectivity, never re-emitted
        chain_src = chain_src.where(F.col("is_new") | F.col("nb.is_new"))
    chain_src = (
        chain_src.withColumn("_nb_id", F.col("nb.conv_id"))
        .dropDuplicates(["band_id", "band_val", "conv_id", "_nb_id"])
        .drop("_nb_id")
    )

    swap = F.col("nb.conv_id") < F.col("conv_id")
    chain_rows = chain_src.select(
        "band_id", *_pair_projection(N_CHUNKS, swap)
    )
    cmatch = _match_mask(n_bands)
    chain = (
        chain_rows.withColumn("match", cmatch)
        .withColumn("eff", F.col("match").bitwiseAND(F.bitwise_not(F.col("banned_a"))))
        .withColumn("bmatch", F.col("match").bitwiseAND(F.col("banned_a")))
        .where(
            (F.col("eff") == 0)
            & (F.col("bmatch").bitwiseAND(low_bits) == 0)
        )
        .drop("match", "eff", "bmatch", "band_id", "banned_a")
    )

    pairs = normal.select(*out_cols).unionByName(chain.select(*out_cols))
    return pairs, block_stats


def candidate_pairs(
    signatures: DataFrame,
    n_bands: int = 16,
    max_block: int = 2000,
) -> tuple[DataFrame, DataFrame]:
    """Thin LSH-blocked candidate pairs (conv_id_a, conv_id_b) — a
    projection of the wide path, so both share one engine implementation
    and the exactly-once guarantee."""
    wide, block_stats = candidate_pairs_wide(
        signatures, n_bands=n_bands, max_block=max_block
    )
    return wide.select("conv_id_a", "conv_id_b"), block_stats


def union_candidates(
    passes: dict[str, DataFrame],
    id_a: str = "conv_id_a",
    id_b: str = "conv_id_b",
) -> DataFrame:
    """Multi-pass blocking: union the candidate sets of several blockers
    (LSH banding, sorted-neighborhood, phonetic keys, ...) into ONE
    exactly-once pair stream with provenance.

    Multi-pass is the standard recall lever when no single blocking key
    catches every true match — each pass trades its own blind spots, and
    the union's pair completeness is the OR of the passes'. Returns
    (id_a, id_b, passes, n_passes) where ``passes`` is the sorted array of
    contributing pass names — so downstream scoring runs once per pair no
    matter how many passes emitted it, and the blocking_quality metrics
    can be computed per pass or for the union from the same table.

    Plan: tag each pass with a literal name, unionByName (no shuffle), one
    groupBy on the pair key — the same single dedup exchange any candidate
    stream needs anyway; collect_set over the tiny per-pair name list is
    map-side combinable.
    """
    if not passes:
        raise ValueError("passes must not be empty")
    tagged = [
        df.select(
            F.col(id_a), F.col(id_b), F.lit(name).alias("_pass")
        )
        for name, df in passes.items()
    ]
    u = tagged[0]
    for t in tagged[1:]:
        u = u.unionByName(t)
    return u.groupBy(id_a, id_b).agg(
        F.array_sort(F.collect_set("_pass")).alias("passes"),
        F.size(F.collect_set("_pass")).alias("n_passes"),
    )


def phonetic_keys(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_tokens: int = 2,
) -> DataFrame:
    """(id, phonetic_key) — Soundex codes of the first ``n_tokens`` alpha
    tokens, joined with '|'.

    The classical fourth blocking family next to LSH banding, sorted
    neighborhood, and token blocking: phonetic keys catch sound-alike
    spellings ("Smith"/"Smyth", "Robert"/"Rupert") that neither SimHash
    bands nor exact-token inverted indexes reliably co-block, because the
    variant characters are exactly the ones the other keys hash on.
    Soundex is a Spark codegen builtin, so key derivation is a narrow map
    stage. Rows with no alpha token get a NULL key (filtered out — an
    unblockable value should produce no pairs, not one giant NULL block).
    """
    if n_tokens < 1:
        raise ValueError("n_tokens must be >= 1")
    toks = F.filter(
        F.split(F.trim(F.regexp_replace(F.lower(F.col(text_col)), "[^a-z ]", " ")), " +"),
        lambda t: F.length(t) > 0,
    )
    key = F.array_join(
        F.transform(F.slice(toks, 1, n_tokens), lambda t: F.soundex(t)), "|"
    )
    return df.select(
        F.col(id_col).alias("rec_id"),
        F.when(F.size(toks) > 0, key).alias("phonetic_key"),
    ).where(F.col("phonetic_key").isNotNull())


def phonetic_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_tokens: int = 2,
    max_block_size: int = 50,
    out_a: str = "conv_id_a",
    out_b: str = "conv_id_b",
) -> DataFrame:
    """Candidate pairs from a phonetic blocking pass: self equi-join on the
    Soundex key with ``id_a < id_b``, exactly once per pair.

    ``max_block_size`` drops keys whose block exceeds the cap BEFORE the
    join (one map-side-combinable count + semi-join) — the standard guard
    against monster blocks of ultra-common name sounds; at corpus scale a
    capped block means O(cap^2) pairs per key instead of O(freq^2) for
    hot sounds. Same df-cap discipline as token blocking
    (ops/setjoin.py:token_blocking_pairs).

    Emits (out_a, out_b, phonetic_key) — feed into union_candidates as one
    pass of a multi-pass blocker.
    """
    keyed = phonetic_keys(df, id_col, text_col, n_tokens)
    if max_block_size is not None:
        ok = (
            keyed.groupBy("phonetic_key")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") <= F.lit(int(max_block_size)))
            .select("phonetic_key")
        )
        keyed = keyed.join(ok, "phonetic_key", "left_semi")
    a = keyed.select(F.col("phonetic_key"), F.col("rec_id").alias(out_a))
    b = keyed.select(F.col("phonetic_key"), F.col("rec_id").alias(out_b))
    return (
        a.join(b, "phonetic_key")
        .where(F.col(out_a) < F.col(out_b))
        .select(out_a, out_b, "phonetic_key")
    )


def suffix_keys(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_suffix_len: int = 6,
    max_key_len: int = 12,
) -> DataFrame:
    """(rec_id, suffix_key) — every suffix of length >= ``min_suffix_len``
    of the record's canonical blocking key (lowercased alphanumeric,
    truncated to ``max_key_len``), one row per suffix.

    Suffix blocking (Aizawa & Oyama's suffix-array method, the fifth
    classical blocking family next to LSH banding, sorted neighborhood,
    token, and phonetic passes): two records co-block iff their keys share
    ANY sufficiently long suffix, which makes the pass robust to
    key-PREFIX corruption — a prepended greeting, a dropped honorific, an
    OCR error in the first characters — exactly where prefix-anchored keys
    (canon prefix, SNM sort keys) are blind. Per record the pass emits at
    most ``max_key_len - min_suffix_len + 1`` keys (7 at the defaults), so
    the inverted index is linear in the corpus.

    Everything is codegen: one regexp canonicalization, one
    sequence+transform building the suffix array in-row, one explode.
    Records whose key is shorter than ``min_suffix_len`` emit nothing (an
    unblockable value should produce no pairs)."""
    if min_suffix_len < 1:
        raise ValueError("min_suffix_len must be >= 1")
    if max_key_len < min_suffix_len:
        raise ValueError("max_key_len must be >= min_suffix_len")
    key = F.substring(
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]", ""),
        1,
        max_key_len,
    )
    n = F.length(key)
    sufs = F.when(
        n >= F.lit(min_suffix_len),
        F.transform(
            F.sequence(F.lit(1), n - F.lit(min_suffix_len) + F.lit(1)),
            lambda i: F.substring(key, i, F.lit(max_key_len)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return df.select(
        F.col(id_col).alias("rec_id"), F.explode(sufs).alias("suffix_key")
    )


def suffix_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_suffix_len: int = 6,
    max_key_len: int = 12,
    max_block_size: int = 50,
    out_a: str = "conv_id_a",
    out_b: str = "conv_id_b",
) -> DataFrame:
    """Candidate pairs from a suffix blocking pass: self equi-join on the
    suffix key with ``id_a < id_b``.

    ``max_block_size`` drops suffixes whose block exceeds the cap BEFORE
    the join (the Aizawa-Oyama "maximum block size" rule — ultra-common
    suffixes carry no discriminating signal and would cost O(freq^2)
    pairs); a pair sharing both a rare long suffix and a hot short one is
    still emitted through the rare one. Because shared suffixes nest (keys
    agreeing on their last k characters share k - min_suffix_len + 1
    keys), the pair stream is deduplicated with ONE groupBy on the pair
    key — the same exchange any candidate stream needs — keeping the
    longest surviving shared suffix as provenance.

    Emits (out_a, out_b, suffix_key, n_shared_suffixes) — feed into
    union_candidates as one pass of a multi-pass blocker."""
    keyed = suffix_keys(df, id_col, text_col, min_suffix_len, max_key_len)
    if max_block_size is not None:
        ok = (
            keyed.groupBy("suffix_key")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") <= F.lit(int(max_block_size)))
            .select("suffix_key")
        )
        keyed = keyed.join(ok, "suffix_key", "left_semi")
    a = keyed.select(F.col("suffix_key"), F.col("rec_id").alias(out_a))
    b = keyed.select(F.col("suffix_key"), F.col("rec_id").alias(out_b))
    return (
        a.join(b, "suffix_key")
        .where(F.col(out_a) < F.col(out_b))
        .groupBy(out_a, out_b)
        .agg(
            F.max_by("suffix_key", F.length("suffix_key")).alias("suffix_key"),
            F.count(F.lit(1)).alias("n_shared_suffixes"),
        )
    )
