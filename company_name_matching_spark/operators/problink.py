"""Fellegi–Sunter probabilistic record linkage (Fellegi & Sunter, JASA 1969).

The reference scores candidate pairs with one fused similarity
(``src/matching/matcher.py:365-420`` — tf-idf/bm25 cosine blended with
fuzzy ratios); the *probabilistic* formulation — discrete per-field
agreement levels, ``log2(m/u)`` evidence weights, match / possible /
non-match decisions — is the classic ER model the Splink / JedAI family
runs at census scale, and the natural statistical complement to the
engine's similarity channels. Everything here is JVM-side column algebra
(no Python in the pair path):

* :func:`comparison_levels` — per-pair discrete agreement vector. All
  banded comparisons use INTEGER cross-multiplication (``5·|∩| ≥ 4·|∪|``
  for Jaccard ≥ 0.8) so level boundaries are exact in every engine — a
  float ratio compared against 0.8 is the kind of edge the DuckDB oracle
  would eventually disagree on.
* :func:`fs_score_pairs` — total log2(m/u) weight + decision. The
  per-(field, level) weights are computed ONCE in Python
  (``round(log2(m/u), 6)``) and embedded as 6dp DECIMAL literals in the
  plan; the pair sum is decimal (order-independent), so the score is
  bit-portable across engines and partitionings by construction — the
  same literal-weight trick the calibration sigmoid uses.
* :func:`estimate_u` — u-probabilities (chance agreement among
  non-matches) from deterministic shifted pairing over a record ordering:
  record i is paired with records i+1..i+k (mod n). On a corpus where
  matches are rare this is the standard random-pairs u estimate, but
  reproducible: no RNG, no sampling drift between runs or engines.

Scale notes (100 TB): levels/weights ride the existing candidate-pair
shuffle — zero extra exchanges (one narrow projection over the scored
pair table). ``estimate_u`` needs a global row ordering, which is a
single-partition window — so at scale it must run over a bounded
deterministic hash-sample (``sample_fraction``), exactly how production
linkers (Splink's ``estimate_u_using_random_sampling``) do it; u
converges at O(1/sqrt(pairs)) so ~10^6 sampled records saturate it.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Default m/u tables. m = P(level | pair is a true match), u = P(level |
# pair is a non-match). Literature-shaped priors for name-only linkage
# (high-m exact key, banded token overlap, weak length signal); real
# deployments re-estimate u with estimate_u() and m via EM or labels.
DEFAULT_MU: dict[str, dict[int, tuple[float, float]]] = {
    "key_exact": {1: (0.95, 0.001), 0: (0.05, 0.999)},
    "jaccard_band": {2: (0.90, 0.010), 1: (0.08, 0.090), 0: (0.02, 0.900)},
    "first_token": {1: (0.92, 0.050), 0: (0.08, 0.950)},
    "len_band": {1: (0.85, 0.250), 0: (0.15, 0.750)},
}

FIELDS = ("key_exact", "jaccard_band", "first_token", "len_band")


@dataclass
class FSConfig:
    mu: dict[str, dict[int, tuple[float, float]]] = field(
        default_factory=lambda: {
            f: dict(v) for f, v in DEFAULT_MU.items()
        }
    )
    match_threshold: float = 10.0     # total weight ≥ → 'match'
    possible_threshold: float = 0.0   # total weight ≥ → 'possible'

    def weights(self) -> dict[str, dict[int, str]]:
        """(field, level) → 6dp log2(m/u) weight as a decimal STRING.

        Strings, not floats: both the Spark plan and the DuckDB oracle
        embed the identical literal, so no engine ever evaluates log2.
        """
        out: dict[str, dict[int, str]] = {}
        for f_, levels in self.mu.items():
            out[f_] = {}
            for lvl, (m, u) in levels.items():
                if not (0.0 < m <= 1.0 and 0.0 < u <= 1.0):
                    raise ValueError(
                        f"m/u must be in (0,1]: {f_} level {lvl} = ({m},{u})"
                    )
                out[f_][lvl] = f"{round(math.log2(m / u), 6):.6f}"
        return out


def _toks(col: str) -> F.Column:
    return F.array_distinct(F.col(col))


def comparison_levels(
    pairs: DataFrame,
    l_key: str = "l_match_key",
    r_key: str = "r_match_key",
    l_tokens: str = "l_tokens",
    r_tokens: str = "r_tokens",
) -> DataFrame:
    """Add the discrete agreement-level columns (all INT, all symmetric).

    * ``key_exact``   — match_key equality (1/0).
    * ``jaccard_band``— distinct-token Jaccard: 2 if ≥0.8, 1 if ≥0.5,
      else 0 — decided by integer cross-multiplication, never a float
      ratio.
    * ``first_token`` — first SORTED token agreement (1/0): the highest-
      signal single token under the sorted-prefix blocking philosophy.
    * ``len_band``    — |len(l)-len(r)| ≤ 2 on the match keys (1/0).
    """
    li, ri = _toks(l_tokens), _toks(r_tokens)
    inter = F.size(F.array_intersect(li, ri))
    union = F.size(F.array_union(li, ri))
    jac_band = (
        F.when(F.lit(5) * inter >= F.lit(4) * union, 2)
        .when(F.lit(2) * inter >= union, 1)
        .otherwise(0)
    )
    return pairs.withColumns({
        "key_exact": (F.col(l_key) == F.col(r_key)).cast("int"),
        "jaccard_band": jac_band.cast("int"),
        "first_token": (
            F.sort_array(li)[0] == F.sort_array(ri)[0]
        ).cast("int"),
        "len_band": (
            F.abs(F.length(l_key) - F.length(r_key)) <= 2
        ).cast("int"),
    })


def fs_score_pairs(
    pairs: DataFrame, cfg: FSConfig | None = None, **level_cols: str
) -> DataFrame:
    """pairs (with level columns) → + ``fs_weight`` (double, exact 6dp
    decimal sum) and ``decision`` ('match' / 'possible' / 'nonmatch').

    A level value absent from the m/u table (or a NULL level) is a hard
    per-row error — the CASE yields NULL and the guard below raises —
    because a silently-NULL weight would erase the pair's evidence. By
    default levels come from :func:`comparison_levels`, whose codomain
    matches DEFAULT_MU exactly.
    """
    cfg = cfg or FSConfig()
    w = cfg.weights()
    terms = []
    for f_ in FIELDS:
        col = level_cols.get(f_, f_)
        expr = None
        for lvl, lit in sorted(w[f_].items()):
            branch = F.expr(f"CAST('{lit}' AS DECIMAL(18,6))")
            expr = (
                F.when(F.col(col) == lvl, branch)
                if expr is None
                else expr.when(F.col(col) == lvl, branch)
            )
        terms.append(expr)  # no .otherwise → NULL propagates loudly
    total = terms[0]
    for t in terms[1:]:
        total = total + t
    out = pairs.withColumn("fs_weight", total.cast("double"))
    out = out.withColumn(
        "fs_weight",
        F.when(
            F.col("fs_weight").isNull(),
            F.raise_error(
                F.lit("fs_score_pairs: agreement level outside the m/u table")
            ),
        ).otherwise(F.col("fs_weight")),
    )
    return out.withColumn(
        "decision",
        F.when(F.col("fs_weight") >= cfg.match_threshold, "match")
        .when(F.col("fs_weight") >= cfg.possible_threshold, "possible")
        .otherwise("nonmatch"),
    )


# estimate_u auto-sampling bounds: above the threshold an unsampled call
# would funnel the whole corpus through one single-partition row_number
# window; the derived fraction targets ~AUTO_SAMPLE_TARGET records, where
# u (a rate over n·k shifted pairs) is already converged at O(1/√pairs).
AUTO_SAMPLE_THRESHOLD = 1_000_000
AUTO_SAMPLE_TARGET = 1_000_000.0


def estimate_u(
    names: DataFrame,
    k: int = 3,
    order_col: str = "source_id",
    sample_fraction: float | None = None,
    seed: int = 42,
) -> DataFrame:
    """u-probability estimation from deterministic shifted pairing.

    Orders records by ``order_col``, pairs row i with rows i+1..i+k
    (cyclically, via a modulo join), computes the agreement levels on
    each pair, and returns one row per (field, level) with the observed
    rate — the u table, since a vanishing fraction of shifted pairs are
    true matches. Output: (field, level, u, n_pairs), u = round(cnt/N, 6).

    The global ``row_number`` is a single-partition window — fine on a
    bounded frame. ``sample_fraction`` hash-samples (deterministic
    xxhash64 threshold, no RNG state) before ordering, the standard
    bounded-sample u protocol. **Scale-safe default (r6)**: when
    ``sample_fraction`` is None and the input exceeds
    ``AUTO_SAMPLE_THRESHOLD`` rows, a fraction targeting
    ``AUTO_SAMPLE_TARGET`` sampled records is derived automatically —
    u converges at O(1/sqrt(pairs)), so ~10⁶ samples estimate it to
    ~3 decimal places and an unsampled 10⁹-row corpus would otherwise
    funnel through ONE window task. Inputs at or below the threshold are
    bit-for-bit unchanged (no sampling).
    """
    if k < 1:
        raise ValueError(f"k must be ≥ 1, got {k}")
    df = names.select(
        F.col(order_col).alias("_ord"), "match_key", "tokens"
    )
    n = None
    if sample_fraction is None:
        n_in = df.count()
        if n_in > AUTO_SAMPLE_THRESHOLD:
            sample_fraction = AUTO_SAMPLE_TARGET / n_in
        else:
            n = n_in  # no filter below: the ranked frame has n_in rows
    if sample_fraction is not None:
        if not (0.0 < sample_fraction <= 1.0):
            raise ValueError(f"sample_fraction must be in (0,1], got {sample_fraction}")
        # clamp: float(2^63-1) rounds UP to 2^63, which overflows a long
        # literal at sample_fraction == 1.0
        bound = min(int(sample_fraction * (2**63 - 1)), 2**63 - 1)
        df = df.where(
            F.abs(F.xxhash64(F.col("_ord").cast("string"), F.lit(seed)))
            <= F.lit(bound)
        )
    rn = df.withColumn(
        "_rn", F.row_number().over(Window.orderBy("_ord")) - 1
    )
    if n is None:
        n = rn.count()
    if n < 2:
        raise ValueError(f"need ≥ 2 records to estimate u, got {n}")
    k = min(k, n - 1)
    shifts = F.explode(
        F.sequence(F.lit(1), F.lit(k))
    ).alias("_shift")
    left = rn.select(
        F.col("_rn").alias("_lrn"),
        F.col("match_key").alias("l_match_key"),
        F.col("tokens").alias("l_tokens"),
    ).select("*", shifts)
    right = rn.select(
        F.col("_rn").alias("_rrn"),
        F.col("match_key").alias("r_match_key"),
        F.col("tokens").alias("r_tokens"),
    )
    pairs = left.join(
        right, ((F.col("_lrn") + F.col("_shift")) % n) == F.col("_rrn")
    )
    lv = comparison_levels(pairs)
    per_field = [
        lv.groupBy(F.lit(f_).alias("field"), F.col(f_).alias("level")).agg(
            F.count(F.lit(1)).alias("n_pairs")
        )
        for f_ in FIELDS
    ]
    stacked = per_field[0]
    for p in per_field[1:]:
        stacked = stacked.unionByName(p)
    total = n * k
    return stacked.select(
        "field",
        F.col("level").cast("int").alias("level"),
        F.round(F.col("n_pairs").cast("double") / F.lit(total), 6).alias("u"),
        "n_pairs",
    )


def em_estimate_mu(
    levels: DataFrame,
    cfg: FSConfig | None = None,
    iterations: int = 2,
    initial_lambda: float = 0.1,
) -> DataFrame:
    """Unsupervised m/u estimation via EM (Winkler '88 — the standard
    Fellegi–Sunter fitting procedure; Splink's ``estimate_parameters_
    using_expectation_maximisation``). Takes the agreement-level table
    from :func:`comparison_levels` and runs a FIXED number of EM rounds:

    * E-step: per-pair match responsibility
      γ = λ·∏m_f(lvl) / (λ·∏m_f(lvl) + (1−λ)·∏u_f(lvl)), with the
      CURRENT round's m/u/λ embedded as double literals (tiny table,
      collected — bounded by #fields × #levels) so the per-row arithmetic
      is a fixed chain of IEEE ops: ((((λ·m₁)·m₂)·m₃)·m₄), identical in
      every engine.
    * M-step: γ is 12dp-rounded into DECIMAL(14,12) and summed per
      (field, level) — order-independent — then the new
      m = round(Σγ_at_level / Σγ, 12), u = round(Σ(1−γ)_at_level /
      Σ(1−γ), 12), λ = round(Σγ / n, 12) are rounded IN-ENGINE (HALF_UP,
      matching the DuckDB twin; never Python's banker's rounding).

    Deterministic by construction: fixed iterations, no RNG, decimal
    accumulation — the oracle replays every round as chained CTEs (the
    PageRank pattern). Only levels OBSERVED in the pair set appear (an
    unobserved level can never be hit by the next round's CASE).

    Scale: the levels table is materialized once; each round is one
    narrow γ projection + one hash agg over the 4×-unpivoted stack +
    one bounded scalar agg. Driver state is the ~10-row m/u table.
    Output: (field, level, m, u, lam) — lam repeated per row.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be ≥ 1, got {iterations}")
    cfg = cfg or FSConfig()
    from company_name_matching_spark.sources.store import materialize

    lv = materialize(levels.select(*FIELDS), "fs_em_levels")
    mu: dict[str, dict[int, tuple[float, float]]] = {
        f_: {lvl: (float(m), float(u)) for lvl, (m, u) in t.items()}
        for f_, t in cfg.mu.items()
    }
    lam = float(initial_lambda)
    mu_df = None
    for _ in range(iterations):
        num = F.lit(lam)
        den_u = F.lit(1.0) - F.lit(lam)
        for f_ in FIELDS:
            m_case, u_case = None, None
            for lvl, (m, u) in sorted(mu[f_].items()):
                m_case = (
                    F.when(F.col(f_) == lvl, F.lit(m))
                    if m_case is None
                    else m_case.when(F.col(f_) == lvl, F.lit(m))
                )
                u_case = (
                    F.when(F.col(f_) == lvl, F.lit(u))
                    if u_case is None
                    else u_case.when(F.col(f_) == lvl, F.lit(u))
                )
            num = num * m_case
            den_u = den_u * u_case
        g = lv.withColumn(
            "g",
            F.round(num / (num + den_u), 12).cast("decimal(14,12)"),
        )
        stacked = None
        for f_ in FIELDS:
            part = g.select(
                F.lit(f_).alias("field"),
                F.col(f_).cast("int").alias("level"),
                "g",
            )
            stacked = part if stacked is None else stacked.unionByName(part)
        s = stacked.groupBy("field", "level").agg(
            F.count(F.lit(1)).alias("cnt"), F.sum("g").alias("sg")
        )
        tot = g.agg(
            F.sum("g").alias("tg"),
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum("g").cast("double") / F.count(F.lit(1)), 12
            ).alias("lam"),
        ).first()
        tg, n, lam = tot["tg"], tot["n"], float(tot["lam"])
        mu_df = s.select(
            "field",
            "level",
            F.round(
                F.col("sg").cast("double") / F.lit(float(tg)), 12
            ).alias("m"),
            F.round(
                (F.col("cnt") - F.col("sg")).cast("double")
                / F.lit(float(n - tg)),
                12,
            ).alias("u"),
        )
        mu = {f_: {} for f_ in FIELDS}
        for r in mu_df.collect():  # bounded: #fields × #levels rows
            mu[r["field"]][r["level"]] = (r["m"], r["u"])
    return mu_df.withColumn("lam", F.lit(lam))


def fs_match_pairs(
    names: DataFrame, cand: DataFrame, cfg: FSConfig | None = None
) -> DataFrame:
    """Glue: candidate pairs + normalized names → FS-scored pairs carrying
    ``is_match`` (decision == 'match'), the exact contract
    ``clustering.cluster_matches`` consumes — a drop-in probabilistic
    alternative to ``scoring.score_pairs``'s fused-similarity rule. The
    FS decision semantics differ deliberately: the 'match' tier is the
    high-precision auto-link band, 'possible' the clerical-review band —
    clustering on the match tier alone over-SPLITS fuzzy variants but
    never over-merges (tested on the labeled fixture corpus)."""
    feat = names.select("record_id", "match_key", "tokens")
    pr = (
        cand.select("left_id", "right_id")
        .join(
            feat.select(F.col("record_id").alias("left_id"),
                        F.col("match_key").alias("l_match_key"),
                        F.col("tokens").alias("l_tokens")),
            "left_id",
        )
        .join(
            feat.select(F.col("record_id").alias("right_id"),
                        F.col("match_key").alias("r_match_key"),
                        F.col("tokens").alias("r_tokens")),
            "right_id",
        )
    )
    scored = fs_score_pairs(comparison_levels(pr), cfg)
    return scored.withColumn("is_match", F.col("decision") == "match")
