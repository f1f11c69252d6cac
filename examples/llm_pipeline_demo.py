"""End-to-end training-data curation demo: the 100 TB extension
surface composed the way a corpus job would run it —

    quality gate → LM perplexity filter → PII scrub → fingerprint
    dedup → near-dup mining → dedup clusters → semantic dedup →
    mixture check → sequence packing → manifest

    python examples/llm_pipeline_demo.py [sf_dir]

Every stage is an engine operator with its own oracle-checked registry
query; this script just chains them over the `documents` fixture and
prints the stage-by-stage row accounting a production run logs.
"""

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from pyspark.sql import functions as F

    from big_data_co2_emission_analysis_spark.functions.pii import redact_pii
    from big_data_co2_emission_analysis_spark.operators.dedup import (
        dedup_by_components,
        fingerprint_dedup,
        minhash_banded_pairs,
    )
    from big_data_co2_emission_analysis_spark.operators.packing import (
        concat_split_pack,
        pack_stats,
    )
    from big_data_co2_emission_analysis_spark.operators.quality import validate
    from big_data_co2_emission_analysis_spark.session import get_session
    from big_data_co2_emission_analysis_spark.sources.readers import read_documents

    spark = get_session("llm-pipeline-demo")
    docs = read_documents(spark, sf_dir).select(
        "doc_id",
        "lang",
        "text",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_tokens"),
    )
    n0 = docs.count()
    print(f"[0] corpus: {n0} docs")

    # 1. quality gate: length band + nonempty language
    good, bad = validate(
        docs,
        {
            "tokens_ge_20": F.col("n_tokens") >= 20,
            "tokens_le_2000": F.col("n_tokens") <= 2000,
            "lang_known": F.col("lang").isNotNull(),
        },
    )
    good = good.cache()
    n1 = good.count()
    print(f"[1] quality gate: {n1} kept, {n0 - n1} quarantined")

    # 2. LM perplexity filter: drop the worst-perplexity tail under a
    #    corpus-trained bigram LM (gibberish/boilerplate candidates)
    from big_data_co2_emission_analysis_spark.operators.ngram_lm import (
        score_docs_bigram_lm,
    )

    ppl = score_docs_bigram_lm(good).select("doc_id", "perplexity")
    cut = ppl.approxQuantile("perplexity", [0.95], 0.001)[0]
    lm_ok = good.join(ppl, "doc_id").filter(F.col("perplexity") <= cut).drop("perplexity")
    n2 = lm_ok.count()
    print(f"[1b] LM perplexity filter (<= {cut:.2f}): {n2} kept, {n1 - n2} dropped")

    # 3. PII scrub (pure map; fuses into the same stage as the gate)
    scrubbed = lm_ok.withColumn("text", redact_pii("text"))

    # 3. exact (fingerprint) dedup
    exact = fingerprint_dedup(scrubbed, "text", "doc_id").cache()
    n3 = exact.count()
    print(f"[2] fingerprint dedup: {n3} survivors ({n2 - n3} exact dups)")

    # 4. near-dup pairs -> connected components -> one survivor per cluster
    pairs = minhash_banded_pairs(exact, "doc_id", "text", min_jaccard=0.5)
    deduped = dedup_by_components(exact, pairs, "doc_id")
    n4 = deduped.count()
    print(f"[3] near-dup clusters: {n4} survivors ({n3 - n4} near-dups folded)")

    # 4b. semantic dedup over the embedding table (SemDeDup): the
    #     embedding-space twin of the lexical near-dup stage
    from big_data_co2_emission_analysis_spark.ml.deterministic import (
        deterministic_kmeans,
    )
    from big_data_co2_emission_analysis_spark.operators.semdedup import (
        semantic_cluster_stats,
        semantic_dedup_survivors,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    asg, _ = deterministic_kmeans(emb, "vec_id", "embedding", k=8, n_iter=5, seed=42)
    sem_stats = semantic_cluster_stats(emb, asg).head()
    sem_kept = semantic_dedup_survivors(emb, asg, min_cosine=0.4).count()
    print(
        f"[3b] SemDeDup (embedding space): {sem_kept}/{emb.count()} vectors kept; "
        f"candidate pairs paid: {sem_stats.candidate_pairs}, "
        f"clusters skipped by cap: {sem_stats.n_skipped_clusters}"
    )

    # 5. mixture accounting per language (what a sampler would rebalance)
    print("[4] language mix of the curated set:")
    deduped.groupBy("lang").count().orderBy("lang").show()

    # 6. pack into fixed 512-token training sequences
    manifest = concat_split_pack(
        deduped.select("doc_id", "n_tokens"), "doc_id", "n_tokens", budget=512
    )
    stats = pack_stats(manifest)
    full = stats.filter(F.col("n_tokens") == 512).count()
    total = stats.count()
    print(f"[5] packed: {total} sequences ({full} exactly full)")
    manifest.orderBy("seq_id", "doc_id").show(10)


if __name__ == "__main__":
    main()
