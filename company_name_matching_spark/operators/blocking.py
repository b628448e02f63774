"""Stage B — candidate blocking: sorted-token prefix keys + MinHash-LSH bands.

The reference compares every query against a global in-memory index
(``matcher.py:365``), which cannot scale; blocking is the centerpiece that
replaces it (SURVEY.md J4). Four complementary generators (two on by
default; ``t:`` per-token and ``s:`` phonetic prefix are opt-in recall
channels):

* ``p:`` sorted-token prefix — first 2 tokens of ``sort_array(tokens)``.
  Catches everything the normalization collapses (most combinatorial
  variants are *equal* after cleaning, so they trivially share this key).
* ``l:`` MinHash-LSH over char 3-grams — catches residual surface variance
  (concatenations like "tapdoan", typos). Signatures are computed entirely
  JVM-side with higher-order functions: grams via ``transform(sequence(...))``,
  per-gram hashes via ``xxhash64``, each signature row via
  ``array_min(transform(...))`` under a universal hash
  ``(a*h + b) mod P`` (P = 2^31-1; operands pre-reduced mod P so ANSI-mode
  arithmetic cannot overflow). No Python in this stage at all.

Skew handling (explicit, per the north rule — the reference only *warns* on
skew, ``utils/validation.py:216``):

* blocks larger than ``max_block_size`` are dropped from pairing — generic
  keys ("viet nam", hot bands) would otherwise create O(n²) pair explosions;
  recall is preserved by the other channel(s);
* singleton blocks are dropped (no pairs);
* the size filter itself is a streaming groupBy + AQE-splittable equi-join
  (see ``filter_blocks``), so even counting a pathological hot key never
  buffers its rows in one task; the surviving per-block pair expansion is
  bounded by ``max_block_size``.

With b bands × r rows the LSH match-probability curve has threshold
≈ (1/b)^(1/r); defaults b=4, r=3 → ~0.63 trigram-Jaccard.

Plan shape. The MinHash expressions are higher-order functions, which run
interpreted, so the optimizer's treatment of them decides the cost of
blocking. Three Catalyst rules matter, and :func:`generate_blocks` and
:func:`explode_staged` are written around them:

* ``CollapseProject`` keeps a projection whose expensive alias is referenced
  more than once by the projection above it. Staging trigram hashes, then
  the signature, then the band keys in three projections therefore computes
  each once per row: the signature reads the hash array bands·rows times,
  the band keys read the signature bands·rows times.
* Lambda variables defeat common-subexpression elimination. Every
  ``F.transform`` copy gets fresh lambda variables, so copies of an inline
  trigram scan are never semantically equal. Written as one expression,
  the band keys' bands·rows signature references times the signature's
  bands·rows permutations put 144 trigram scans (at the default 4×3) into
  each row's evaluation.
* ``InferFiltersFromGenerate`` adds ``size(input) > 0 AND isnotnull(input)``
  below an inner ``explode``, and predicate pushdown then inlines the
  staged input's whole expression into that filter, so staging an array in
  its own projection does not stop it from being computed twice.
  :func:`explode_staged` uses ``explode_outer`` (the rule skips outer
  generators) and drops the NULL rows above the generator.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from company_name_matching_spark.sources.store import materialize, spread

_MERSENNE31 = 2147483647  # 2^31 - 1, prime


def _hash_params(k: int, seed: int = 42) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randint(1, _MERSENNE31 - 1), rng.randint(0, _MERSENNE31 - 1))
        for _ in range(k)
    ]


@dataclass
class BlockingConfig:
    minhash_bands: int = 4
    minhash_rows: int = 3
    prefix_tokens: int = 2
    max_block_size: int = 200  # raise to ~1000 at cluster scale
    seed: int = 42
    channels: tuple[str, ...] = ("prefix", "lsh")
    _params: list[tuple[int, int]] = field(default_factory=list, repr=False)

    def params(self) -> list[tuple[int, int]]:
        if not self._params:
            self._params = _hash_params(
                self.minhash_bands * self.minhash_rows, self.seed
            )
        return self._params


def trigram_hashes_col(col):
    """array<bigint> of xxhash64'd char 3-grams of a string column, pre-reduced
    mod P — all JVM-native (no UDF). Grams come from the ONE shared SQL gram
    definition (``scoring.trigram_strings_col``) so LSH blocking and TF-IDF
    scoring can never drift apart."""
    from company_name_matching_spark.operators.scoring import trigram_strings_col

    return F.transform(
        trigram_strings_col(col),
        lambda g: F.pmod(F.xxhash64(g), F.lit(_MERSENNE31)),
    )


def sig_from_hashes_col(hashes_col, cfg: BlockingConfig):
    """array<bigint> MinHash signature from an ALREADY-COMPUTED trigram-hash
    array column. ``hashes_col`` must be a column of a projection below
    (or a stored column), never the inline :func:`trigram_hashes_col`
    expression: the bands·rows permutations each reference it, and the
    copies are not common subexpressions (see the module docstring), so the
    substring+xxhash scan would run that many times per row, for short
    company names as much as for long documents. Over a staged array each
    permutation pass is pure arithmetic."""
    return F.array(
        *[
            F.array_min(
                F.transform(
                    hashes_col,
                    lambda h: F.pmod(
                        F.lit(a) * h + F.lit(b), F.lit(_MERSENNE31)
                    ),
                )
            )
            for (a, b) in cfg.params()
        ]
    )


def sig_arrow_kernel(cfg: BlockingConfig):
    """Arrow-vectorized MinHash signature kernel over an already-computed
    trigram-hash array column — the long-document fast path of
    :func:`sig_from_hashes_col` (VERDICT r4 'winnow lesson': the cost of
    these stages is the interpreted HOF machinery, not the hash math; the
    bands·rows ``array_min(transform(...))`` passes run the universal-hash
    arithmetic per element in interpreted mode).

    BIT-IDENTICAL to the JVM form by construction, not by luck: the input
    hashes are the same JVM ``xxhash64(gram) pmod P`` values (P = 2³¹-1),
    and each signature row is ``min((a·h + b) mod P)`` in uint64 —
    ``a·h + b < P² + P < 2⁶⁴`` so numpy's modulo is exact, and both
    operands are nonnegative so ``%`` == ``pmod``. A null hash array maps
    to the JVM's ``F.array(array_min(transform(null)), ...)`` = a
    signature of nulls. Signature-equality across both engines is
    pytest-asserted on the fixtures corpus.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    params = cfg.params()
    k = len(params)
    A = np.array([a for a, _ in params], dtype=np.uint64).reshape(-1, 1)
    B = np.array([b for _, b in params], dtype=np.uint64).reshape(-1, 1)
    P = np.uint64(_MERSENNE31)

    def _one(arr):
        if arr is None:
            return [None] * k
        h = np.asarray(arr, dtype=np.uint64)
        if h.shape[0] == 0:  # unreachable via trigram_hashes_col (≥1 gram)
            return [None] * k
        return ((A * h + B) % P).min(axis=1).astype(np.int64).tolist()

    @pandas_udf("array<long>")
    def _sig(th: pd.Series) -> pd.Series:
        return th.map(_one)

    return _sig


def band_keys_from_sig(sig, cfg: BlockingConfig):
    """array<string> of LSH band keys from an already-computed signature
    column (staged in a projection below, or stored). The band keys
    reference the signature bands·rows times, and an inline signature
    expression gets no common-subexpression elimination in interpreted
    mode — it would recompute the whole shingle scan that many times per
    row (observed 600+ s on 500 long documents before this split)."""
    keys = []
    for band in range(cfg.minhash_bands):
        lo = band * cfg.minhash_rows
        parts = [F.element_at(sig, lo + i + 1) for i in range(cfg.minhash_rows)]
        keys.append(
            F.concat_ws(
                "",
                F.lit(f"l:{band}:"),
                F.xxhash64(*parts).cast("string"),
            )
        )
    return F.array(*keys)


def prefix_key_col(tokens_col, cfg: BlockingConfig):
    """'p:' + first N lexicographically-sorted tokens of the cleaned name."""
    return F.concat(
        F.lit("p:"),
        F.concat_ws(" ", F.slice(F.sort_array(tokens_col), 1, cfg.prefix_tokens)),
    )


def token_keys_col(tokens_col):
    """array<string> of per-token block keys ('t:' + token, len ≥ 3) —
    classic token blocking with frequency pruning: common tokens ("viet",
    "nam", entity markers) form huge blocks that the ``filter_blocks`` hot
    cap drops, so only DISCRIMINATIVE tokens generate pairs. The recall
    channel for queries sharing a brand token but no prefix/band with the
    corpus form (cross-language EN→VI queries, heavy reorderings). OFF by
    default — enable via ``channels=(..., "token")``."""
    return F.transform(
        F.filter(F.array_distinct(tokens_col), lambda t: F.length(t) >= 3),
        lambda t: F.concat(F.lit("t:"), t),
    )


def phonetic_key_col(tokens_col, cfg: BlockingConfig):
    """'s:' + soundex codes of the first N sorted tokens — the phonetic
    blocking channel (north star: 'sorted-token prefix + phonetic/char-ngram
    MinHash-LSH bands'). A typo-robust twin of the prefix key: tokens that
    differ by vowel swaps or doubled consonants ('sunhouse'/'sunhose',
    'viettel'/'vietel') fold to one code, so typo'd first tokens that break
    the exact prefix key still land in one block. Pure JVM ``soundex``
    (whole-stage codegen, no shuffle added — one more key per record through
    the same explode). Folded ASCII match keys are exactly soundex's input
    domain, which is why the fold happens before blocking. OFF by default —
    enable via ``channels=(..., "phonetic")``."""
    return F.concat(
        F.lit("s:"),
        F.concat_ws(
            " ",
            F.transform(
                F.slice(F.sort_array(tokens_col), 1, cfg.prefix_tokens),
                F.soundex,
            ),
        ),
    )


def generate_blocks(
    names: DataFrame,
    cfg: BlockingConfig | None = None,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """names → blocks(record_id, block_key), one row per (record, key).
    ``passthrough`` columns ride along unchanged (e.g. a per-key weight for
    the contracted key-domain path in :func:`candidate_pairs`).

    Only records with non-empty ``match_key`` participate. All channels are
    computed in the same narrow map stage, the LSH keys over three staged
    projections; :func:`explode_staged` fans the key array out.
    """
    cfg = cfg or BlockingConfig()
    unknown = set(cfg.channels) - {"prefix", "lsh", "token", "phonetic"}
    if unknown or not cfg.channels:
        # fail loudly: a typo'd channel name ("tokens") would otherwise
        # silently disable the recall it was enabled for, and an empty
        # channel list would surface only as a bare IndexError below
        raise ValueError(
            f"unknown blocking channels {sorted(unknown)}; "
            "valid: 'prefix', 'lsh', 'token', 'phonetic' (need at least one)"
        )
    ids = ["record_id", *passthrough]
    df = names
    if "lsh" in cfg.channels:
        # one projection per MinHash step, so each runs once per row (see
        # the module docstring): trigram hashes → signature → band keys
        carry = ids + (["tokens"] if set(cfg.channels) - {"lsh"} else [])
        df = df.select(
            *carry, trigram_hashes_col(F.col("match_key")).alias("_th")
        ).select(*carry, sig_from_hashes_col(F.col("_th"), cfg).alias("_sig"))
    key_arrays = []
    if "prefix" in cfg.channels:
        key_arrays.append(F.array(prefix_key_col(F.col("tokens"), cfg)))
    if "lsh" in cfg.channels:
        key_arrays.append(band_keys_from_sig(F.col("_sig"), cfg))
    if "token" in cfg.channels:
        key_arrays.append(token_keys_col(F.col("tokens")))
    if "phonetic" in cfg.channels:
        key_arrays.append(F.array(phonetic_key_col(F.col("tokens"), cfg)))
    all_keys = F.concat(*key_arrays) if len(key_arrays) > 1 else key_arrays[0]
    # no dedup shuffle here: (record_id, block_key) duplicates are impossible
    # by construction — channels are namespace-disjoint ("p:" / "l:{band}:" /
    # "t:"), band keys carry distinct band indices, and token keys are
    # array_distinct. Downstream consumers that form pairs dedup pairs anyway.
    # Every key is non-NULL by construction, as explode_staged requires.
    return explode_staged(
        df.select(*ids, all_keys.alias("_keys")), "_keys", "block_key", *ids
    )


def explode_staged(
    staged: DataFrame, keys: str, out: str, *keep: str
) -> DataFrame:
    """One row per element of the array column ``keys`` of ``staged``,
    named ``out``, next to the ``keep`` columns.

    For a ``keys`` column that the projection below computes with an
    expensive expression. A plain ``explode`` would run that expression
    twice per row: ``InferFiltersFromGenerate`` adds ``size(keys) > 0``
    below the generator and pushdown inlines the staged expression into
    that filter (module docstring). ``explode_outer`` gets no inferred
    filter. Its NULL rows, for NULL or empty arrays, are dropped above the
    generator, so the rows equal ``explode``'s whenever no element is
    NULL — callers must build arrays of non-NULL elements, or want NULL
    elements dropped."""
    return staged.select(*keep, F.explode_outer(keys).alias(out)).where(
        F.col(out).isNotNull()
    )


def filter_blocks(
    blocks: DataFrame,
    max_size: int,
    min_size: int = 2,
    weight_col: str | None = None,
) -> DataFrame:
    """Drop singleton blocks (no pairs) and hot blocks above ``max_size``
    (pair-explosion cap — the explicit skew-splitting response the reference
    lacks). The one hot-bucket cap of every candidate generator: name
    blocking passes ``BlockingConfig.max_block_size``, the dedup bucket
    joins ``dedup.MAX_BUCKET_SIZE``. ``blocks`` is keyed by ``block_key``.

    ``min_size=2`` is for self-join dedup; query-vs-corpus search must pass
    ``min_size=1`` (a corpus block of one is still a valid search target).

    Implementation: streaming size aggregation + an UNHINTED equi-join of
    blocks against the surviving key set. Two prior shapes were rejected
    with measurements: the round-2 force-broadcast of the keep-set grows
    O(distinct keys) ≈ O(records) and OOMs at 100× (VERDICT r2), and the
    early-round-3 count WINDOW buffers every row of a hot key in ONE task
    before the cap can drop it — windows get no AQE skew splitting, joins
    do, so a pathological key (a generic two-token prefix at web scale)
    stalls the window plan but is split-or-dropped here. The groupBy is
    map-side partial (no row buffering), and the join output stays
    hash-partitioned on ``block_key`` for the downstream pair expansion to
    reuse.

    ``weight_col`` makes the size a weighted sum instead of a row count: the
    contracted key-domain path in :func:`candidate_pairs` blocks DISTINCT
    match keys but the cap must keep measuring *records*, so each key row
    carries its member count as the weight — block sizes (and therefore the
    kept/dropped set) are value-equal to the record-level blocking they
    contract.
    """
    size_expr = (
        F.sum(weight_col) if weight_col else F.count(F.lit(1))
    )
    sizes = blocks.groupBy("block_key").agg(size_expr.alias("_bsz"))
    keep = sizes.where(
        (F.col("_bsz") >= min_size)
        & (F.col("_bsz") <= F.lit(max_size))
    ).select("block_key")
    return blocks.join(keep, "block_key")


def _pair_expand(df: DataFrame, ids_col: str, left: str, right: str) -> DataFrame:
    """sorted id array → all (left < right) pairs, staged before explode
    (Generate re-evaluates its generator expression per OUTPUT row)."""
    anchors = df.select(
        F.posexplode(ids_col).alias("_i", left), F.col(ids_col)
    ).select(
        left,
        F.slice(
            F.col(ids_col), F.col("_i") + F.lit(2), F.size(ids_col)
        ).alias("_rest"),
    )
    return explode_staged(anchors, "_rest", right, left)


def _block_pairs(blocks: DataFrame, left: str, right: str) -> DataFrame:
    """blocks(record_id, block_key) → one (left < right) row per pair per
    shared block: each block's sorted member set, spread before the fan-out
    (:func:`sources.store.spread`), expanded by :func:`_pair_expand`. Pairs
    that share several blocks repeat; the caller dedups or counts them."""
    grp = blocks.groupBy("block_key").agg(
        F.sort_array(F.collect_set("record_id")).alias("_ids")
    )
    return _pair_expand(spread(grp), "_ids", left, right)


def candidate_pairs_record_level(
    names: DataFrame, cfg: BlockingConfig | None = None
) -> DataFrame:
    """Record-level blocked pair expansion — the pre-round-5 shape, kept as
    the equivalence reference for :func:`candidate_pairs` (the contracted
    key-domain form must emit the identical pair set) and for inputs whose
    block keys are NOT a pure function of ``match_key``.

    Fused pair expansion instead of a blocked self-join. The round-2 plan
    (materialize blocks → join blocks with itself on block_key → dedup)
    shuffled the block table three more times (dedup-by-(id,key), two join
    exchanges off the parquet re-read) and anti-scaled 8→32 threads on the
    shuffle bus. filter_blocks leaves its output hash-partitioned on
    block_key, so the groupBy REUSES that distribution (no new shuffle);
    with every surviving block ≤ max_block_size the per-key collect_set
    state and the per-row expansion are both bounded, and the sorted set
    makes left < right by construction.
    """
    cfg = cfg or BlockingConfig()
    # read twice by filter_blocks (size aggregation + keep-join); without
    # the barrier the MinHash stage ran twice (measured +80% on the pairs
    # stage)
    blocks = filter_blocks(
        materialize(generate_blocks(names, cfg), "blocks"), cfg.max_block_size
    )
    return _block_pairs(blocks, "left_id", "right_id").dropDuplicates(
        ["left_id", "right_id"]
    )


def candidate_pairs(
    names: DataFrame, cfg: BlockingConfig | None = None
) -> DataFrame:
    """Blocked self-join → distinct candidate pairs (left_id < right_id).

    The dedupe across generators happens BEFORE scoring: pairs found by both
    the prefix and an LSH band are scored once (SURVEY.md §7 step 5).

    Round-5 shape — contracted to the DISTINCT match-key domain. Every block
    key (prefix, LSH band, token) is a pure function of ``match_key``
    (``tokens`` = split(match_key)), so records sharing a match key have
    IDENTICAL block memberships, and the record-level pair set factors into
      * within-key pairs: all member pairs of every key that survives in ≥1
        block, and
      * cross-key pairs: the member cross product of every distinct
        co-blocked key pair.
    The expensive record-level ``dropDuplicates`` (28.7M pre-dedup rows for
    12.4M pairs on the scaling workload — ~6 s of the 8-core pairs stage)
    collapses to a key-pair dedup (~10³–10⁵ rows), and the MinHash/block-key
    expressions run once per DISTINCT key instead of once per record — the
    same contraction ``scoring.score_pairs`` applies to its kernels. On real
    web corpora the exact-duplicate factor is the whole point: 100 TB of
    pages contracts to the distinct-name domain before anything quadratic
    or shuffle-heavy happens.

    Scale guards, in order: (1) per-key counts are aggregated FIRST, so hot
    blocks are capped on true record weights without ever buffering a member
    array; (2) member arrays are collected ONLY for keys present in
    surviving blocks — a pathological key (e.g. a normalized-to-nothing
    boilerplate name with 10⁸ records) exceeds every block cap, is dropped,
    and its array is never built, giving a hard ≤``max_block_size``-members
    bound on aggregation state; (3) expansion joins are unhinted equi-joins
    (AQE may broadcast the key tables when small; skew-split when not).
    Equivalence to :func:`candidate_pairs_record_level` is pytest-enforced
    on randomized corpora.
    """
    cfg = cfg or BlockingConfig()
    # 1. per-key member counts (no arrays yet — see scale guard (1))
    key_n = names.groupBy("match_key").agg(F.count(F.lit(1)).alias("_n"))
    key_names = key_n.select(
        F.col("match_key").alias("record_id"),
        F.col("match_key"),
        F.split("match_key", " ").alias("tokens"),
        "_n",
    )
    # 2. key-level blocks, weighted by member count so the hot-block cap
    #    sees the SAME sizes as record-level blocking
    blocks = filter_blocks(
        materialize(
            generate_blocks(key_names, cfg, passthrough=("_n",)), "key_blocks"
        ),
        cfg.max_block_size,
        weight_col="_n",
    )
    # 3. member arrays only for surviving keys (bounded by the cap)
    present = blocks.select(
        F.col("record_id").alias("match_key")
    ).dropDuplicates(["match_key"])
    members = materialize(
        names.join(present, "match_key")
        .groupBy("match_key")
        .agg(F.sort_array(F.collect_set("record_id")).alias("_members")),
        "key_members",
    )
    # 4. distinct co-blocked key pairs (the ONLY dedup shuffle left, on the
    #    contracted domain; sorted set gives _lk < _rk across all blocks).
    #    The deduped key pairs are spread again before the member-array
    #    expansion below (the score stage ran flat ~19 s at local[2/8/32]
    #    when the record pairs inherited the dedup's coalesced width);
    #    per-row fan-out is cap-bounded, so row balance ≈ output balance.
    key_pairs = spread(
        _block_pairs(blocks, "_lk", "_rk").dropDuplicates(["_lk", "_rk"])
    )
    # 5. cross-key record pairs: expand both member arrays; record ids from
    #    different keys are distinct, least/greatest restores left < right.
    #    Disjointness (distinct key pairs → disjoint record-pair sets; a
    #    record pair's key pair is unique) means NO record-level dedup.
    cross = (
        key_pairs.join(
            members.select(
                F.col("match_key").alias("_lk"), F.col("_members").alias("_lms")
            ),
            "_lk",
        )
        .join(
            members.select(
                F.col("match_key").alias("_rk"), F.col("_members").alias("_rms")
            ),
            "_rk",
        )
        .select(F.explode("_lms").alias("_a"), "_rms")
        .select("_a", F.explode("_rms").alias("_b"))
        .select(
            F.least("_a", "_b").alias("left_id"),
            F.greatest("_a", "_b").alias("right_id"),
        )
    )
    # 6. within-key pairs: every surviving key's own members (identical
    #    block memberships → they co-occur in each of its surviving blocks)
    within = _pair_expand(
        spread(members.where(F.size("_members") >= 2)),
        "_members",
        "left_id",
        "right_id",
    )
    return cross.unionByName(within)


def pair_block_weights(blocks: DataFrame) -> DataFrame:
    """blocks(record_id, block_key) → (left_id, right_id, weight) where
    weight = CBS, the number of blocks the pair co-occurs in (Papadakis
    et al., "Comparison-Based Blocking" weighting). The per-block pair
    expansion is the same fused collect_set shape as
    :func:`candidate_pairs_record_level`; the weight falls out of the
    pair-dedup aggregation that plan already pays — CBS is free. Every
    block participates: a caller that wants the hot-block cap applies
    :func:`filter_blocks` first."""
    return _block_pairs(blocks, "left_id", "right_id").groupBy(
        "left_id", "right_id"
    ).agg(F.count(F.lit(1)).alias("weight"))


def metablock_prune(blocks: DataFrame) -> DataFrame:
    """Meta-blocking with Weighted Node Pruning (Papadakis et al., TKDE'14):
    keep a candidate pair iff its co-occurrence weight is ≥ the mean
    incident-pair weight of AT LEAST ONE of its two records. Redundancy-
    positional intuition: a pair sharing several independent block keys is
    far likelier to match than one thrown together by a single generic
    key, and each record's own weight distribution calibrates "several" —
    no global tuning constant, which is what makes it deployable on a
    10^12-page crawl where block-size folklore breaks.

    The mean comparison is exact INTEGER arithmetic
    (w ≥ sum/cnt ⇔ w·cnt ≥ sum), so the decision is bit-portable — a
    float mean would eventually flip a boundary pair between engines.

    Plan: the pair-weight table (one agg over the block expansion), one
    agg over its unpivoted endpoints (2 rows/pair), two equi-joins back.
    Everything is key-partitioned; per-node state is two longs.
    Output: (left_id, right_id, weight) — the surviving comparisons.
    """
    w = materialize(pair_block_weights(blocks), "mb_weights")
    ends = w.select(F.col("left_id").alias("_id"), "weight").unionByName(
        w.select(F.col("right_id").alias("_id"), "weight")
    )
    stats = ends.groupBy("_id").agg(
        F.sum("weight").alias("_wsum"), F.count(F.lit(1)).alias("_wcnt")
    )
    ls = stats.select(
        F.col("_id").alias("left_id"),
        F.col("_wsum").alias("_lsum"), F.col("_wcnt").alias("_lcnt"),
    )
    rs = stats.select(
        F.col("_id").alias("right_id"),
        F.col("_wsum").alias("_rsum"), F.col("_wcnt").alias("_rcnt"),
    )
    return (
        w.join(ls, "left_id").join(rs, "right_id")
        .where(
            (F.col("weight") * F.col("_lcnt") >= F.col("_lsum"))
            | (F.col("weight") * F.col("_rcnt") >= F.col("_rsum"))
        )
        .select("left_id", "right_id", "weight")
    )


def blocking_quality(
    cand: DataFrame,
    labels: DataFrame,
    record_col: str = "record_id",
    gold_col: str = "gold_id",
) -> DataFrame:
    """Standard blocking-evaluation metrics (Christen '12): given
    candidate pairs (``left_id``/``right_id``) and a record→gold-label
    table, one row with

    * ``pair_completeness``  — recall: covered true pairs / all true
      pairs (the cost of every cap/prune, e.g. :func:`metablock_prune`);
    * ``pair_quality``       — precision: true candidates / candidates;
    * ``reduction_ratio``    — 1 − |candidates| / C(N,2), the whole
      point of blocking at 10^12 records.

    Counts are exact integers from two hash aggs and two label joins
    (pairs never materialize beyond the input); the three ratios are
    6dp-rounded doubles with an identical op order in the DuckDB twin —
    products/denominators computed in DOUBLE (C(N,2) overflows int64 at
    web scale). Candidate pairs must already be deduped, left<right —
    both true by construction for every generator in this module.
    """
    lab = labels.select(
        F.col(record_col).alias("_id"), F.col(gold_col).alias("_g")
    )
    tagged = (
        cand.select("left_id", "right_id")
        .join(lab.select(F.col("_id").alias("left_id"),
                         F.col("_g").alias("_gl")), "left_id")
        .join(lab.select(F.col("_id").alias("right_id"),
                         F.col("_g").alias("_gr")), "right_id")
    )
    cstats = tagged.agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum((F.col("_gl") == F.col("_gr")).cast("long"))
        .alias("true_in_candidates"),
    )
    gstats = (
        lab.groupBy("_g").agg(F.count(F.lit(1)).alias("_sz"))
        .agg(
            F.sum(
                (F.col("_sz") * (F.col("_sz") - 1) / 2).cast("long")
            ).alias("n_true_pairs"),
            F.sum("_sz").alias("_n"),
        )
    )
    return cstats.crossJoin(gstats).select(
        "n_candidates",
        "n_true_pairs",
        "true_in_candidates",
        F.round(
            F.col("true_in_candidates").cast("double")
            / F.col("n_true_pairs").cast("double"),
            6,
        ).alias("pair_completeness"),
        F.round(
            F.col("true_in_candidates").cast("double")
            / F.col("n_candidates").cast("double"),
            6,
        ).alias("pair_quality"),
        F.round(
            F.lit(1.0)
            - F.col("n_candidates").cast("double")
            / (
                F.col("_n").cast("double")
                * (F.col("_n").cast("double") - F.lit(1.0))
                / F.lit(2.0)
            ),
            6,
        ).alias("reduction_ratio"),
    )


def global_rank(
    df: DataFrame,
    order_cols: list[str],
    rank_col: str = "_rank",
    n_buckets: int = 64,
    sample_per_bucket: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Scale-honest GLOBAL 1-based rank under the total order
    ``order_cols`` — the primitive sorted-neighborhood blocking needs.
    ``Window.orderBy`` without a partition key funnels the entire table
    through ONE task; this instead:

    1. samples the first order column deterministically (xxhash64
       threshold, no RNG state) and derives ≤ ``n_buckets`` range
       boundaries — collected ONCE, so every downstream job sees the
       identical bucketing (Spark's repartitionByRange re-samples per
       job, which would misalign the offset pass);
    2. assigns each row its bucket as a pure function of the key
       (count of boundaries ≤ key — rows with EQUAL first keys always
       share a bucket, keeping the order total);
    3. ranks within buckets (hash exchange + per-bucket sort) and adds
       the cumulative bucket offsets (one bounded count aggregation,
       ≤ n_buckets rows collected).

    The rank value is a pure function of the data and the total order —
    independent of partitioning, sampling quality (bad boundaries only
    skew bucket sizes), and parallelism. Requires ``order_cols`` to be a
    TOTAL order (pass a unique tiebreak column last).
    """
    if not order_cols:
        raise ValueError("order_cols must be non-empty")
    first = order_cols[0]
    n = df.count()
    if n == 0:
        return df.withColumn(rank_col, F.lit(None).cast("long"))
    want = n_buckets * sample_per_bucket
    src = df.select(F.col(first).alias("_k"))
    if want < n:
        # float(2^63-1) rounds UP past Long.MAX — keep the threshold
        # arithmetic in exact integers
        src = src.where(
            F.abs(F.xxhash64(F.col("_k").cast("string"), F.lit(seed)))
            <= F.lit((want * (2**63 - 1)) // n)
        )
    sample = sorted(
        r["_k"] for r in src.collect()
    )  # bounded: ~n_buckets × sample_per_bucket rows (or all of a tiny df)
    bounds: list = []
    if sample:
        step = max(1, len(sample) // n_buckets)
        bounds = sorted({sample[i] for i in range(step, len(sample), step)})
    if bounds:
        barr = F.array(*[F.lit(b) for b in bounds])
        bkt = F.size(F.filter(barr, lambda x: x <= F.col(first)))
    else:
        bkt = F.lit(0)
    bucketed = df.withColumn("_bkt", bkt)
    counts = sorted(
        (r["_bkt"], r["cnt"])
        for r in bucketed.groupBy("_bkt")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()  # bounded: ≤ n_buckets + 1 rows
    )
    offs, acc = {}, 0
    for b, c in counts:
        offs[b] = acc
        acc += c
    off_map = F.create_map(
        *[F.lit(x) for bc in offs.items() for x in bc]
    )
    win = Window.partitionBy("_bkt").orderBy(
        *[F.col(c) for c in order_cols]
    )
    return (
        bucketed.withColumn("_rin", F.row_number().over(win))
        .withColumn(
            rank_col,
            (off_map[F.col("_bkt")] + F.col("_rin")).cast("long"),
        )
        .drop("_bkt", "_rin")
    )


def sorted_neighborhood_pairs(
    names: DataFrame,
    key_col: str,
    window: int = 5,
    id_col: str = "record_id",
    tiebreak_col: str | None = None,
    n_buckets: int = 64,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo '95) — the third
    classic candidate-generation family beside key-equality blocks and
    LSH: sort by a fabricated key, pair every record with its ``window-1``
    successors. Catches near-misses that share a PREFIX of the sort key
    but no exact block key (the failure mode of equality blocking on
    typo'd tails).

    Ranks come from :func:`global_rank` (never a single-partition
    window). Pairing is an EQUI-join on the rank bucket ``rank // w``:
    a successor within w-1 positions lives in the same or the next
    bucket, so each record is emitted twice on the left (bucket, bucket
    +1) and matched once — a 2× fan-out instead of a rank-range
    non-equi join that would plan as BroadcastNestedLoop. Output:
    (left_id, right_id), rank-ascending orientation, each pair exactly
    once.
    """
    if window < 2:
        raise ValueError(f"window must be ≥ 2, got {window}")
    tb = tiebreak_col or id_col
    ranked = global_rank(
        names.select(id_col, key_col, tb).dropDuplicates([id_col]),
        [key_col, tb],
        rank_col="_rank",
        n_buckets=n_buckets,
    )
    wsz = F.lit(window)
    base = F.floor(F.col("_rank") / wsz)
    left = ranked.select(
        F.col(id_col).alias("left_id"),
        F.col("_rank").alias("_lr"),
        F.explode(F.array(base, base + 1)).alias("_b"),
    )
    right = ranked.select(
        F.col(id_col).alias("right_id"),
        F.col("_rank").alias("_rr"),
        base.alias("_b"),
    )
    return (
        left.join(right, "_b")
        .where(
            (F.col("_rr") - F.col("_lr")).between(1, window - 1)
        )
        .select("left_id", "right_id")
    )
