"""Cross-language EN→VI golden-set floor (reference
evaluate_cross_language.py protocol; its weakest class at 93.8% Top-1)."""

import sys
from pathlib import Path

from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).parent.parent / "scripts"))


def test_crosslang_surface_tier_floor(spark):
    """Surface tier (lexical bridge exists): Top-1 >= 0.9 and Top-3 = 1.0.
    Semantic tier is NOT gated — translation-only pairs need a real dense
    encoder (operators/encode.py seam; none in this environment); the
    script reports it for visibility."""
    import evaluate_cross_language as xl

    stats = xl.evaluate(spark)
    surf = stats["by_tier"]["surface"]
    assert surf["top1"] / surf["total"] >= 0.9, stats["misses"]
    assert surf["top3"] == surf["total"], stats["misses"]
    # the semantic tier must at least produce SOME candidates via the token
    # channel (blocking recall, not scoring quality)
    sem = stats["by_tier"]["semantic"]
    assert sem["top5"] >= 3


def test_token_channel_blocks_reordered_brand(spark):
    """The token channel pairs records sharing only a rare brand token
    (no common prefix, no common char-ngram band)."""
    from company_name_matching_spark.operators import blocking, normalize

    df = spark.createDataFrame(
        [("a", "Hoa Phat Group Joint Stock Company"),
         ("b", "CÔNG TY CỔ PHẦN TẬP ĐOÀN HÒA PHÁT")],
        "company_id string, name string",
    )
    names = normalize.normalize_mentions(df, "company_id", "name")
    cfg = blocking.BlockingConfig(channels=("token",))
    blocks = blocking.filter_blocks(
        blocking.generate_blocks(names, cfg), cfg.max_block_size
    )
    shared = (
        blocks.groupBy("block_key")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") == 2)
        .count()
    )
    assert shared >= 2  # t:hoa and t:phat at minimum


def test_crosslang_alias_semantic_floor(spark):
    """Query-side EN→VI sector aliases (crosslang.EN_VI_ALIASES) close the
    alias-expressible semantic misses: semantic-tier Top-1 ≥ 0.5 (was 2/10
    without aliases) with the surface tier unharmed (VERDICT r3 #5)."""
    import evaluate_cross_language as xl

    stats = xl.evaluate(spark, use_aliases=True)
    surf = stats["by_tier"]["surface"]
    assert surf["top1"] / surf["total"] >= 0.9, stats["misses"]
    sem = stats["by_tier"]["semantic"]
    assert sem["top1"] / sem["total"] >= 0.5, stats["misses"]


def _bilingual_toy_encoder_factory():
    """Test-double bilingual encoder: a bag of CONCEPT ids, where bilingual
    token groups (brand translations) share a concept — the minimal
    structure a real multilingual SentenceTransformer provides. Exercises
    the full hybrid_dense path (executor-side factory → encode → sign-LSH
    retrieval → cosine fusion) on pairs with ZERO shared tokens."""
    import hashlib

    import numpy as np

    concept_of = {}
    for cid, toks in enumerate([
        ["vinamilk", "milk", "dairy", "sua"],
        ["mobile", "world", "gioi", "di", "dong"],
        ["electricity", "dien", "luc"],
        ["airlines", "aviation", "hang", "khong"],
        ["rubber", "cao", "su"],
        ["military", "quan", "doi"],
        ["asia", "chau"],
        ["beer", "beverage", "bia", "ruou"],
        ["foreign", "trade", "ngoai", "thuong"],
        ["bank", "ngan"],
        ["vietnam", "viet", "nam"],
        ["investment", "dau", "tu"],
    ]):
        for t in toks:
            concept_of[t] = cid

    def encode(texts):
        dim = 64
        out = np.zeros((len(texts), dim), dtype=np.float32)
        for i, t in enumerate(texts):
            for tok in str(t or "").lower().split():
                if tok in concept_of:
                    out[i, concept_of[tok]] += 1.0
                else:
                    h = int.from_bytes(
                        hashlib.md5(tok.encode()).digest()[:8], "big"
                    )
                    out[i, 12 + h % (dim - 12)] += 0.25
        n = np.linalg.norm(out, axis=1, keepdims=True)
        n[n == 0] = 1.0
        return out / n

    return encode


def test_hybrid_dense_bridges_translation_pairs(spark):
    """hybrid_dense with a (toy) bilingual encoder retrieves and ranks
    translation-only pairs: the sign-LSH dense channel generates candidates
    lexical blocking cannot, and the fused score ranks them — the seam a
    real SentenceTransformer drops into unchanged. Semantic-tier Top-1
    ≥ 0.8 (stand-in lexical engine alone: 2/10)."""
    import evaluate_cross_language as xl

    stats = xl.evaluate(
        spark,
        model="hybrid_dense",
        use_aliases=True,
        dense_encoder_factory=_bilingual_toy_encoder_factory,
    )
    sem = stats["by_tier"]["semantic"]
    assert sem["top1"] / sem["total"] >= 0.8, stats["misses"]
    surf = stats["by_tier"]["surface"]
    assert surf["top1"] / surf["total"] >= 0.9, stats["misses"]


def test_hybrid_dense_standin_lexical_floor(spark, corpus_queries=None):
    """hybrid_dense with the DEFAULT hash stand-in must not regress the
    lexical Top-1 floor on the labeled Vietnamese queries (the dense
    channel adds candidates and a hash-bag cosine — both lexical-ish)."""
    from company_name_matching_spark.operators.search import (
        SearchConfig,
        search_topk,
    )
    from company_name_matching_spark.sources import fixtures

    comps = fixtures.base_companies(40)
    corpus = spark.createDataFrame(comps, "company_id string, name string")
    q = fixtures.labeled_queries(comps, per_company=2)
    queries = spark.createDataFrame(
        q, "query_id string, query_text string, target_id string, method string"
    )
    res = search_topk(corpus, queries, SearchConfig(k=3, model="hybrid_dense"))
    top1 = res.where(F.col("rank") == 1).select("query_id", "company_id")
    hits = (
        queries.join(
            top1.withColumnRenamed("company_id", "got"), "query_id", "left"
        )
        .groupBy("query_id", "target_id")
        .agg(F.max(F.when(F.col("got") == F.col("target_id"), 1).otherwise(0)).alias("hit"))
    )
    acc = hits.agg(F.avg("hit").alias("acc")).collect()[0]["acc"]
    assert acc >= 0.99, f"hybrid_dense top-1 accuracy {acc:.4f}"
