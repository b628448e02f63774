"""Text-analysis operators for large-scale training-data pipelines.

All of these are JVM-native column expressions (no Python at all), designed
so an ANSI-SQL oracle (DuckDB) can compute the identical value — that is the
correctness gate. Heuristics are deliberately simple + deterministic; the
point is distributed plumbing, pushdown-friendly expressions, and exact
cross-engine reproducibility.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, Window
from pyspark.sql import functions as F

# Tiny English stopword list (shared with the SQL oracle).
EN_STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "on")

# Vietnamese diacritic detector (shared with SQL oracle as a character class).
_VI_CHARS = "àáạảãâầấậẩẫăằắặẳẵèéẹẻẽêềếệểễìíịỉĩòóọỏõôồốộổỗơờớợởỡùúụủũưừứựửữỳýỵỷỹđ"


def tokens_col(text: Column) -> Column:
    return F.split(F.trim(text), r"\s+")


def token_count(text: Column) -> Column:
    return F.size(tokens_col(text))


def distinct_token_count(text: Column) -> Column:
    return F.size(F.array_distinct(tokens_col(text)))


# GPT-2-style pre-tokenizer pattern, restricted to the RE2-compatible subset
# (no lookahead) so a DuckDB oracle can reproduce counts bit-for-bit:
# contractions | space+letters | space+digits | space+other | whitespace.
# This is the "BPE-ish" LLM token ESTIMATOR for training-data budgeting —
# counts pre-tokenizer segments, not merged BPE ids (a real vocab merge
# changes counts by a roughly constant factor per language).
BPE_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_token_count(text: Column) -> Column:
    """LLM-token estimate per document (GPT-2 pre-tokenizer segments)."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_PATTERN), F.lit(0)))


def stopword_ratio(text: Column) -> Column:
    toks = tokens_col(F.lower(text))
    sw = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS)))
    return F.when(
        F.size(toks) > 0, sw.cast("double") / F.size(toks).cast("double")
    ).otherwise(0.0)


def punct_ratio(text: Column) -> Column:
    stripped = F.regexp_replace(text, r"[a-zA-Z0-9\s]", "")
    return F.when(
        F.length(text) > 0,
        F.length(stripped).cast("double") / F.length(text).cast("double"),
    ).otherwise(0.0)


def mean_token_len(text: Column) -> Column:
    toks = tokens_col(text)
    total = F.length(F.regexp_replace(F.trim(text), r"\s+", ""))
    return F.when(
        F.size(toks) > 0, total.cast("double") / F.size(toks).cast("double")
    ).otherwise(0.0)


def quality_score(text: Column) -> Column:
    """Simple [0,1] quality heuristic: penalize extreme repetition, high
    punctuation, and degenerate length. Deterministic + SQL-expressible."""
    tc = token_count(text).cast("double")
    uniq = distinct_token_count(text).cast("double")
    rep = F.when(tc > 0, uniq / tc).otherwise(0.0)  # 1 = no repetition
    punct = punct_ratio(text)
    len_ok = F.when(F.length(text).between(20, 10000), F.lit(1.0)).otherwise(0.5)
    return F.round(rep * 0.5 + (1.0 - punct) * 0.3 + len_ok * 0.2, 6)


def langid(text: Column) -> Column:
    """N-gram-free language heuristic: Vietnamese diacritics ⇒ 'vi'; else
    English stopword density ⇒ 'en'; else 'other'. Deterministic."""
    has_vi = text.rlike(f"[{_VI_CHARS}]")
    return (
        F.when(has_vi, F.lit("vi"))
        .when(stopword_ratio(text) >= 0.05, F.lit("en"))
        .otherwise(F.lit("other"))
    )


def fingerprint(text: Column) -> Column:
    """Canonical document fingerprint: md5 of lowercase, whitespace-collapsed
    text — the exact-dedup key."""
    return F.md5(F.lower(F.regexp_replace(F.trim(text), r"\s+", " ")))


def canon_text(text: Column) -> Column:
    """Shared canonicalization for the winnow + char-LM channels:
    lowercase, collapse whitespace runs, strip ALL leading/trailing
    whitespace (collapse-then-trim == python str.strip + re.sub — F.trim
    alone leaves tab/newline padding). ONE definition keeps the Spark
    channels and their DuckDB twins
    (``trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))``) in
    lockstep."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def winnow_gram_hashes(canon: Column, k: int = 8) -> Column:
    """Rolling k-gram hashes of an ALREADY-STAGED canonical text column:
    60-bit md5 top-15-hex per gram, DuckDB-reproducible (the oracle
    entries replay it in SQL).

    ``canon`` must be a bound column, not an inline expression:
    higher-order lambdas re-evaluate every non-lambda subexpression per
    element (no CSE), so an inline regexp canonicalization would run once
    per gram."""
    def gram_hash(i):
        return F.conv(
            F.substring(F.md5(canon.substr(i, F.lit(k))), 1, 15), 16, 10
        ).cast("long")
    n_grams = F.greatest(F.length(canon) - F.lit(k - 1), F.lit(1))
    # empty canonical text ⇒ EMPTY hash set (the floor of one gram would
    # hash the empty string, making all blank docs near-duplicates of each
    # other); texts shorter than k still yield one truncated gram so short
    # strings remain matchable
    return F.when(
        F.length(canon) > 0,
        F.transform(F.sequence(F.lit(1), n_grams), gram_hash),
    ).otherwise(F.array().cast("array<long>"))


def _winnow_arrow_udf(k: int, w: int):
    """Vectorized winnowing kernel: gram-hash + window-min selection fused
    into ONE Arrow-batched pandas UDF (round-5 measurement: the interpreted
    HOF machinery — per-position ``substr`` + ``array_min(slice(...))``
    lambdas — dominates the stage cost, not the hash function; see
    BENCH.md "Winnowing fast-hash path").

    Per doc (numpy, O(n)): codepoint array → uint64 Horner rolling hash
    over each char ``k``-gram (wrap-around mod 2⁶⁴, odd base — same
    collision class as any 64-bit mixing hash for sketch purposes) →
    ``np.minimum``-reduce over ``w`` shifted slices → ``np.unique``
    (distinct + sorted). Edge semantics replicate the HOF engines exactly
    (pair-set-equality pytest): null/blank canon → EMPTY set; 0 < len < k
    → one truncated gram; n_windows = max(m-w+1, 1).

    The per-doc python loop costs ~tens of µs of numpy-call overhead per
    row — linear work dominates from ~1 KB docs up. If profiling ever
    shows the overhead matter on short-doc corpora, the next step is
    batch-level concatenation with boundary masking, not a return to HOFs.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    B = np.uint64(0x9E3779B97F4A7C55)  # odd 64-bit constant (golden-ratio)

    def _one(text) -> np.ndarray:
        if text is None or not text:
            return np.array([], dtype=np.int64)
        c = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32)
        c = c.astype(np.uint64)
        n = c.shape[0]
        if n >= k:
            m = n - k + 1
            g = np.zeros(m, dtype=np.uint64)
            for j in range(k):
                g = g * B + c[j:j + m]
        else:  # one truncated gram (keeps short strings matchable)
            g = np.zeros(1, dtype=np.uint64)
            for j in range(n):
                g = g * B + c[j:j + 1]
        m = g.shape[0]
        if m >= w:
            mins = g[: m - w + 1].copy()
            for j in range(1, w):
                np.minimum(mins, g[j: j + m - w + 1], out=mins)
        else:
            mins = g.min(keepdims=True)
        # distinct, then sorted ascending AS SIGNED longs — the same
        # convention sort_array(long) uses in the HOF engines, so every
        # engine's fp arrays share one total order
        return np.sort(np.unique(mins).view(np.int64))

    @pandas_udf("array<long>")
    def winnow_arrow(canon: pd.Series) -> pd.Series:
        return canon.map(_one)

    return winnow_arrow


def winnow_select_mins(hashes: Column, w: int = 4) -> Column:
    """Distinct sorted window minima over a STAGED hash-array column (the
    winnowing selection). Same staging rule as winnow_gram_hashes: an
    inline ``hashes`` expression would be recomputed per window (O(n²))."""
    n_windows = F.greatest(F.size(hashes) - F.lit(w - 1), F.lit(1))
    mins = F.transform(
        F.sequence(F.lit(1), n_windows),
        lambda i: F.array_min(F.slice(hashes, i, F.lit(w))),
    )
    # empty hash set (blank doc) ⇒ empty selection, not [null]
    return F.when(
        F.size(hashes) > 0, F.sort_array(F.array_distinct(mins))
    ).otherwise(F.array().cast("array<long>"))


def winnow_fingerprint_table(docs, id_col: str = "doc_id",
                             text_col: str = "text",
                             k: int = 8, w: int = 4,
                             extra_cols: tuple = (),
                             hash: str = "md5"):
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD'03) — the rolling-hash near-dup fingerprint a plagiarism/
    boilerplate detector selects: hash every character ``k``-gram of the
    canonical text, slide a window of ``w`` consecutive hashes, keep each
    window's MINIMUM, return the distinct sorted selection per doc.

    Guarantee: any shared substring of length ≥ ``w + k - 1`` between two
    documents contributes at least one shared fingerprint, while the
    selected set is ~2/(w+1) of all grams — a sketch whose size tracks
    content, not corpus.

    DataFrame-level on purpose: each stage (canonicalize → gram-hash →
    window-min) materializes through the parquet barrier so the arrays are
    computed ONCE per doc — fused column expressions re-evaluate nested
    arrays per lambda element (measured: O(n·w) becomes O(n²·regex) and a
    2 KB doc corpus times out). Returns (id_col, *extra_cols,
    fp array<long>); ``extra_cols`` (e.g. a blocking column) ride through
    the stages.

    ``hash`` engines: ``"md5"`` (DuckDB-oracle-reproducible JVM HOFs,
    :func:`winnow_gram_hashes`) and ``"arrow"`` (vectorized numpy
    rolling-hash kernel, :func:`_winnow_arrow_udf` — fastest; fuses
    gram-hash + selection into one Arrow batch). Both produce valid
    Schleimer'03 selections with identical structure; fingerprint VALUES
    differ per engine, so every doc in one near-dup comparison must use
    one engine (pair-set-equality pytest covers both).
    """
    from company_name_matching_spark.sources.store import materialize, spread_to_cores

    if hash not in ("md5", "arrow"):
        raise ValueError(f"unknown winnow gram hash {hash!r}")

    canon = canon_text(F.col(text_col))
    docs = spread_to_cores(docs)
    extras = [F.col(c) for c in extra_cols]
    s1 = materialize(
        docs.select(F.col(id_col), *extras, canon.alias("_ct")),
        "winnow_canon",
    )
    if hash == "arrow":
        # fused vectorized kernel: gram-hash + selection in one Arrow
        # batch — no intermediate hash-array barrier needed (the fusion
        # is safe here because the kernel evaluates each doc ONCE; the
        # HOF engines must stage between gram and selection to avoid
        # per-lambda re-evaluation)
        return s1.select(
            id_col, *extra_cols,
            _winnow_arrow_udf(k, w)(F.col("_ct")).alias("fp"),
        )
    s2 = materialize(
        s1.select(
            id_col, *extra_cols,
            winnow_gram_hashes(F.col("_ct"), k).alias("_gh"),
        ),
        "winnow_hashes",
    )
    return s2.select(
        id_col, *extra_cols, winnow_select_mins(F.col("_gh"), w).alias("fp")
    )


def repetition_signals(docs, id_col: str = "doc_id",
                       text_col: str = "text"):
    """Gopher-style repetition quality signals (Rae et al., "Scaling
    Language Models: ... Gopher", 2021, §A1.1 quality filters; same
    family as CCNet/RefinedWeb repetition rules) — the per-document
    numbers a web-scale training-data filter thresholds on:

    * ``n_lines`` — non-empty trimmed lines (split on ``\\n``).
    * ``dup_line_frac`` — fraction of line OCCURRENCES beyond the first
      of their identical line: ``(n_lines - distinct_lines) / n_lines``.
    * ``dup_line_char_frac`` — characters in those beyond-first
      occurrences / characters in all lines.
    * ``n_words`` — whitespace tokens of the canonical (lower, collapsed)
      text.
    * ``top_word_frac`` — occurrences of the most frequent word / total
      words (ties broken lexicographically — deterministic cross-engine).
    * ``top_2gram_char_frac`` / ``top_3gram_char_frac`` — non-space
      characters covered by all occurrences of the most frequent word
      2-/3-gram divided by total non-space characters (the Gopher
      "fraction of characters in the most common n-gram" rule).

    All fractions are 0.0 for degenerate inputs (blank doc, fewer words
    than the gram width) and rounded to 6dp AFTER exact integer-operand
    double division, so a DuckDB oracle reproduces every value exactly.

    Shape: n-gram arrays are built IN-ROW (``transform`` over an index
    sequence — no shuffle, no window) and only the (id, gram) pairs are
    exploded into the two groupBy aggregations; everything downstream of
    the explode is partitioned by ``id_col``. Scale cost is O(total
    tokens) rows through two hash aggregations — the same class as the
    token-stats operators.
    """
    idc = F.col(id_col)
    # --- line-level (raw text: canon would collapse the newlines away) ---
    lines = (
        docs.select(idc, F.explode(F.split(F.col(text_col), "\n")).alias("_l"))
        .select(id_col, F.trim("_l").alias("_l"))
        .where(F.col("_l") != "")
    )
    per_line = lines.groupBy(id_col, "_l").agg(F.count(F.lit(1)).alias("_c"))
    line_stats = per_line.groupBy(id_col).agg(
        F.sum("_c").alias("n_lines"),
        F.round(
            (F.sum("_c") - F.count(F.lit(1))).cast("double")
            / F.sum("_c").cast("double"), 6,
        ).alias("dup_line_frac"),
        F.round(
            F.sum((F.col("_c") - 1) * F.length("_l")).cast("double")
            / F.sum(F.col("_c") * F.length("_l")).cast("double"), 6,
        ).alias("dup_line_char_frac"),
    )

    # --- word / n-gram level (canonical text) ---
    ct = canon_text(F.col(text_col))
    toks = F.when(ct != "", F.split(ct, " ")).otherwise(
        F.array().cast("array<string>")
    )
    base = docs.select(idc, toks.alias("_ws"))

    def grams(n: int):
        # guard: F.sequence(1, 0) yields a DESCENDING [1, 0], not empty
        idxs = F.sequence(F.lit(1), F.size("_ws") - (n - 1))
        g = F.transform(
            idxs,
            lambda i: F.concat_ws(
                " ", *[F.element_at("_ws", i + j) for j in range(n)]
            ),
        )
        return F.when(F.size("_ws") >= n, g).otherwise(
            F.array().cast("array<string>")
        )

    def top_frac(n: int, out_col: str):
        """(id, out_col): char-coverage fraction of the most frequent
        n-gram (n=1: occurrence fraction of the top word)."""
        ex = base.select(id_col, F.size("_ws").alias("_nw"),
                         F.explode(grams(n)).alias("_g"))
        counted = ex.groupBy(id_col, "_nw", "_g").agg(
            F.count(F.lit(1)).alias("_c")
        )
        w = Window.partitionBy(id_col).orderBy(
            F.col("_c").desc(), F.col("_g").asc()
        )
        top = counted.withColumn("_rn", F.row_number().over(w)).where(
            F.col("_rn") == 1
        )
        if n == 1:
            return top.select(
                id_col,
                F.round(
                    F.col("_c").cast("double") / F.col("_nw").cast("double"), 6
                ).alias(out_col),
            )
        # non-space chars of the gram × occurrences / doc non-space chars
        # (doc total rides in via a join on id: an aggregate over _ws is
        # not visible post-explode)
        doc_chars = base.select(
            id_col,
            F.aggregate("_ws", F.lit(0),
                        lambda acc, t: acc + F.length(t)).alias("_dc"),
        )
        return (
            top.join(doc_chars, id_col)
            .select(
                id_col,
                F.round(
                    (F.length(F.regexp_replace("_g", " ", "")) * F.col("_c"))
                    .cast("double") / F.col("_dc").cast("double"), 6,
                ).alias(out_col),
            )
        )

    word_counts = base.select(id_col, F.size("_ws").alias("n_words"))
    out = (
        docs.select(idc)
        .join(word_counts, id_col, "left")
        .join(line_stats, id_col, "left")
        .join(top_frac(1, "top_word_frac"), id_col, "left")
        .join(top_frac(2, "top_2gram_char_frac"), id_col, "left")
        .join(top_frac(3, "top_3gram_char_frac"), id_col, "left")
    )
    zeros = {
        "n_lines": F.lit(0).cast("bigint"),
        "dup_line_frac": F.lit(0.0),
        "dup_line_char_frac": F.lit(0.0),
        "top_word_frac": F.lit(0.0),
        "top_2gram_char_frac": F.lit(0.0),
        "top_3gram_char_frac": F.lit(0.0),
    }
    for c, z in zeros.items():
        out = out.withColumn(c, F.coalesce(F.col(c), z))
    return out.select(
        id_col, "n_lines", "dup_line_frac", "dup_line_char_frac",
        "n_words", "top_word_frac", "top_2gram_char_frac",
        "top_3gram_char_frac",
    )


def char_lm_scores(docs, id_col: str = "doc_id", text_col: str = "text",
                   alpha: float = 0.5):
    """Character-bigram language-model quality score — the CCNet-style
    filter signal (Wenzek et al., "CCNet", LREC'20 use perplexity under a
    KenLM model; this is the self-contained distributed analog): train an
    add-α-smoothed char-bigram model on the CORPUS itself, score each doc
    by its average bits per bigram. Gibberish/boilerplate-noise docs score
    high (surprising transitions); fluent text scores low. Relative
    ranking is what the filter thresholds — no external model needed.

    P(c₂|c₁) = (count(c₁c₂) + α) / (count(c₁·) + α·|charset|), over the
    canonical (lowercased, whitespace-collapsed) text. Everything is
    explode → groupBy → join (JVM-native); per-bigram log-probs are
    rounded to 6dp BEFORE the decimal-accumulated per-doc mean, so the
    result is bit-identical cross-engine (double sums are order-dependent;
    decimal sums of rounded terms are not). Returns
    (id_col, n_bigrams, bits_per_bigram) — the mean is per BIGRAM
    (decimal sum / n_bigrams), named accordingly (ADVICE r5).

    Corpus-size safety: model state is |charset|² rows (bounded by the
    alphabet, not the corpus); the per-doc join is bounded by document
    length. Same staging rule as winnowing: the bigram array builds from a
    STAGED canon column (HOF lambdas re-evaluate inline subexpressions per
    element).
    """
    from company_name_matching_spark.sources.store import materialize, spread_to_cores

    canon = canon_text(F.col(text_col))
    docs = spread_to_cores(docs)
    s1 = materialize(
        docs.select(F.col(id_col), canon.alias("_ct")), "charlm_canon"
    )
    ct = F.col("_ct")
    n_bi = F.greatest(F.length(ct) - F.lit(1), F.lit(0))
    bigrams = F.when(
        n_bi > 0,
        F.transform(F.sequence(F.lit(1), n_bi), lambda i: ct.substr(i, F.lit(2))),
    ).otherwise(F.array().cast("array<string>"))
    # Pre-aggregate the exploded instances to (id, bg, cnt) BEFORE the
    # parquet barrier: the instance table is one row per CHARACTER of the
    # corpus (a 2-3x scratch write amplification at web scale); the per-doc
    # distinct-bigram table is bounded by min(doc_len, |charset|^2) per doc.
    # Map-side partial aggregation absorbs the duplicates before the shuffle.
    bi = materialize(
        s1.select(id_col, F.explode(bigrams).alias("bg"))
        .groupBy(id_col, "bg")
        .agg(F.count(F.lit(1)).alias("cnt")),
        "charlm_bigrams",
    )
    # corpus model: bigram counts, context (first-char) counts, charset size
    bg_counts = bi.groupBy("bg").agg(F.sum("cnt").alias("c_bg"))
    bg_counts = bg_counts.withColumn("c1", F.substring("bg", 1, 1))
    ctx_counts = bg_counts.groupBy("c1").agg(F.sum("c_bg").alias("c_ctx"))
    # alphabet size from the DISTINCT-bigram table (≤|charset|² rows), not
    # the bigram instances — the instance-level distinct would shuffle the
    # whole corpus to count a set bounded by the alphabet (r4 review)
    n_chars = int(
        bg_counts.select(F.substring("bg", 1, 1).alias("ch"))
        .union(bg_counts.select(F.substring("bg", 2, 1).alias("ch")))
        .distinct()
        .count()
    )
    model = bg_counts.join(ctx_counts, "c1").select(
        "bg",
        F.round(
            -F.log2(
                (F.col("c_bg") + F.lit(alpha))
                / (F.col("c_ctx") + F.lit(alpha * n_chars))
            ),
            6,
        ).alias("bits"),
    )
    # Join the model on the per-doc DISTINCT-bigram table and weight by
    # cnt. Decimal(30,6) * integer count is exact, so sum(cnt * bits)
    # equals the old per-instance decimal sum bit-for-bit; the final
    # double division therefore reproduces the pre-r5 values exactly.
    return (
        bi.join(model, "bg")
        .groupBy(id_col)
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            F.round(
                F.sum(
                    F.col("bits").cast("decimal(30,6)") * F.col("cnt")
                ).cast("double")
                / F.sum("cnt"),
                6,
            ).alias("bits_per_bigram"),
        )
    )


# ---------------------------------------------------------------------------
# C4-style line-level cleaning (Raffel et al. '20 §2.2)
# ---------------------------------------------------------------------------

def c4_line_clean(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_line_tokens: int = 5,
    require_terminal_punct: bool = True,
    min_lines: int = 3,
):
    """C4 cleaning: keep lines that look like prose, drop pages that don't.

    Line rules (each line judged independently, all in-row — ``split`` on
    newline, ``filter`` with JVM lambdas, zero shuffle):

    * ≥ ``min_line_tokens`` whitespace tokens;
    * ends in terminal punctuation (``. ! ? "``) when
      ``require_terminal_punct``;
    * does not contain ``javascript`` (case-insensitive).

    Page rules (C4 drops the whole page): fewer than ``min_lines``
    surviving lines, or the raw text contains ``lorem ipsum`` or ``{``.

    Returns one row per input doc: ``(id, clean_text, n_lines_kept,
    n_lines_dropped, page_kept)`` — non-destructive so callers can audit
    what a destructive filter would remove; ``where(page_kept == 1)``
    + ``clean_text`` is the C4 corpus. The whole operator is a narrow
    projection: at 10^12 pages it fuses into the extraction scan.
    """
    t = F.col(text_col)
    lines = F.filter(
        F.transform(F.split(t, "\n"), lambda l: F.trim(l)),
        lambda l: l != "",
    )
    keep = lambda l: (
        (F.size(F.array_remove(F.split(l, r"\s+"), "")) >= min_line_tokens)
        & (
            l.rlike(r'[.!?"]$')
            if require_terminal_punct
            else F.lit(True)
        )
        & ~F.lower(l).contains("javascript")
    )
    kept = F.filter(lines, keep)
    n_kept = F.size(kept)
    page_kept = (
        (n_kept >= min_lines)
        & ~F.lower(t).contains("lorem ipsum")
        & ~t.contains("{")
    )
    return docs.select(
        F.col(id_col),
        F.array_join(kept, "\n").alias("clean_text"),
        n_kept.cast("int").alias("n_lines_kept"),
        (F.size(lines) - n_kept).cast("int").alias("n_lines_dropped"),
        page_kept.cast("int").alias("page_kept"),
    )


# ---------------------------------------------------------------------------
# Per-source corpus report card
# ---------------------------------------------------------------------------

def source_report_card(docs, group_col: str = "source",
                       id_col: str = "doc_id", text_col: str = "text"):
    """One-row-per-source corpus audit — the table a training-data team
    reads before fixing mixture weights: volume (docs, whitespace
    tokens, chars), quality (mean of the 6dp per-doc quality score),
    redundancy (distinct exact-dedup fingerprints / docs), and language
    spread (distinct langs when the column exists).

    Determinism: the per-doc quality scores are 6dp-rounded doubles;
    the MEAN accumulates them as ``decimal(18,6)`` (order-independent,
    unlike a double sum) and divides once at the end — the same
    decimal-accumulation rule the char-LM scorer uses, so a DuckDB twin
    reproduces every cell exactly.

    Scale: one hash aggregation on the group key (sources/domains —
    bounded dim); the fingerprint distinct rides the same aggregation
    via ``count_distinct``, not a separate shuffle.
    """
    cols = set(docs.columns)
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col(text_col)).cast("bigint")).alias("n_tokens"),
        F.sum(F.length(text_col).cast("bigint")).alias("n_chars"),
        F.round(
            F.sum(quality_score(F.col(text_col)).cast("decimal(18,6)"))
            .cast("double") / F.count(F.lit(1)),
            6,
        ).alias("mean_quality"),
        F.round(
            F.count_distinct(fingerprint(F.col(text_col))).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("distinct_frac"),
    ]
    if "lang" in cols and group_col != "lang":
        aggs.append(F.count_distinct(F.col("lang")).alias("n_langs"))
    return docs.groupBy(group_col).agg(*aggs)


def top_tokens(docs, text_col: str = "text", k: int = 100):
    """Corpus-wide top-``k`` most frequent whitespace tokens of the
    canonical text — the vocabulary/boilerplate-chrome audit a
    training-data team runs before tokenizer work (over-represented
    tokens expose template chrome the dedup channels should be
    catching). Deterministic: ties break lexicographically.

    Scale shape: explode → one hash aggregation on the token key →
    ``orderBy(...).limit(k)``, which Spark executes as
    TakeOrderedAndProject — a per-partition partial top-k followed by a
    k-row merge on the driver, NEVER a global sort of the vocabulary.
    """
    toks = docs.select(
        F.explode(
            F.when(
                canon_text(F.col(text_col)) != "",
                F.split(canon_text(F.col(text_col)), " "),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("token").asc())
        .limit(k)
    )
