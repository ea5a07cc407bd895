package graft.queries

import graft.Tables
import graft.functions.GraftFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Large-scale training-data pipeline operators over `documents` and
  * `embeddings` — dedup (exact, MinHash-LSH, SimHash, n-gram Jaccard),
  * similarity search (brute-force + LSH-bucketed cosine top-k), text
  * analysis (token stats, quality, lang-ID, winnowing fingerprints), and
  * multimodal metadata plumbing.
  *
  * Oracle portability rules used throughout (so DuckDB reproduces Spark
  * bit-for-bit):
  *  - hashes are md5 hex strings (identical in both engines); MinHash
  *    takes the LEXICOGRAPHIC min of md5 strings instead of a numeric
  *    hash, so no integer-conversion divergence exists;
  *  - hex→int uses Spark `conv(hex,16,10)` ≡ DuckDB `('0x'||hex)::BIGINT`
  *    (unsigned 32-bit, fits a long identically);
  *  - float similarity values are computed with explicit SEQUENTIAL folds
  *    (Spark `aggregate`, DuckDB `list_reduce`) over identical element
  *    order, so IEEE doubles match exactly and no rounding is needed.
  *
  * Scale design notes are per-query below; none of these plans collects
  * to the driver, and every candidate-generation step is bucketed (LSH
  * bands / inverted index / hyperplane buckets) — all-pairs never happens
  * on the big side.
  */
object LlmQueries extends QueryModule
    with LlmDedupQueries with LlmAnnQueries with LlmTextQueries
    with LlmTokenizerQueries with LlmIterativeQueries {

  // ------------------------------------------------------------ wiring

  private def sqlQuery(view: (SparkSession, String) => SparkSession, sql: String): (SparkSession, String) => DataFrame =
    (s, dir) => view(s, dir).sql(sql)

  /** q176 — bloom-prefiltered benchmark decontamination: the scale-path
    * complement of q113. q113 bounds the gram join with a df cap, which
    * still SHUFFLES every corpus gram once to count frequencies; here
    * the benchmark side (small by nature — it's an eval set) builds ONE
    * bounded bloom sketch over its gram hashes, and the corpus side
    * drops non-matching grams MAP-SIDE (codegen'd
    * `BloomFilterMightContain` on a literal sketch — zero shuffle, zero
    * join for the ~99% of grams that can't be contaminated). Survivors
    * exact-confirm against the benchmark gram set (broadcast — it's
    * dim-sized), which removes bloom false positives, so the output is
    * EXACTLY the uncapped exact-join semantics and the DuckDB oracle
    * hash-matches. The sketch collect is one ~1 MB driver round-trip —
    * the same pattern as Spark's own DataFrameStatFunctions.bloomFilter
    * and the runtime row-level filters Spark injects for shuffle joins
    * (which use an uncorrelated scalar subquery for the same sketch). */
  private def bloomDecontam(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.types.BinaryType
    val grams = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .where(size(col("ws")) >= 3)
      .select(col("doc_id"), explode(array_distinct(
        transform(sequence(lit(0), size(col("ws")) - 3),
          i => md5(concat_ws(" ", slice(col("ws"), i + 1, lit(3))))))).as("fp"))
    val bench = grams.where(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("bench_id"), col("fp"))
    val corpus = grams.where(col("doc_id") % 97 =!= 0)
    val sketch = bench.select(GraftColumnBridge.column(
        new BloomFilterAggregate(
          GraftColumnBridge.catalystExpression(xxhash64(col("fp"))),
          Literal(1000000L), Literal(8388608L)).toAggregateExpression()).as("bf"))
      .collect()(0).getAs[Array[Byte]](0)
    val survivors =
      if (sketch == null) corpus.where(lit(false)) // empty benchmark side
      else corpus.where(GraftColumnBridge.column(BloomFilterMightContain(
        Literal(sketch, BinaryType),
        GraftColumnBridge.catalystExpression(xxhash64(col("fp"))))))
    survivors.join(broadcast(bench), "fp")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("fp")).as("shared_grams"),
           countDistinct(col("bench_id")).as("n_bench_docs"))
      .orderBy(col("doc_id"))
  }

  private val bloomDecontamOracle = """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    g AS (
      SELECT doc_id, list_distinct(list_transform(range(len(ws) - 2),
               i -> md5(array_to_string(ws[i+1:i+3], ' ')))) AS gl
      FROM w WHERE len(ws) >= 3),
    fps AS (SELECT doc_id, unnest(gl) AS fp FROM g),
    bench AS (SELECT doc_id AS bench_id, fp FROM fps WHERE doc_id % 97 = 0),
    corpus AS (SELECT doc_id, fp FROM fps WHERE doc_id % 97 <> 0)
    SELECT c.doc_id, count(DISTINCT c.fp) AS shared_grams,
           count(DISTINCT b.bench_id) AS n_bench_docs
    FROM corpus c JOIN bench b ON c.fp = b.fp
    GROUP BY c.doc_id ORDER BY c.doc_id"""

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q21_exact_dedup" -> (exactDedup(_, _)),
    "q22_minhash_lsh" -> sqlQuery(docs, minhashSql()),
    "q23_simhash" -> sqlQuery(docs, simhashSql),
    "q24_ngram_jaccard" -> sqlQuery(docs, ngramJaccardSql()),
    "q25_knn_bruteforce" -> sqlQuery(embs, knnSql),
    "q26_knn_lsh" -> sqlQuery(embs, lshKnnSql),
    "q27_token_stats" -> sqlQuery(docs, tokenStatsSql),
    "q28_quality_score" -> sqlQuery(docs, qualitySql),
    "q29_langid" -> sqlQuery(docs, langidSql(spark = true)),
    "q30_fingerprint" -> sqlQuery(docs, fingerprintSql),
    "q31_multimodal_meta" -> sqlQuery(docs, multimodalSql),
    "q37_embed_neardup" -> sqlQuery(embs, embedNeardupSql()),
    "q38_knn_ivf" -> sqlQuery(embs, ivfKnnSql),
    "q41_dup_clusters" -> (dupClusters(_, _)),
    "q51_bm25" -> sqlQuery(docs, bm25Sql),
    "q53_contamination" -> sqlQuery(docsRp, contaminationSql),
    "q54_vocab" -> sqlQuery(docs, vocabSql),
    "q55_data_mixture" -> sqlQuery(docs, mixtureSql),
    "q56_repetition" -> sqlQuery(docs, repetitionSql),
    "q57_dedup_keep" -> (dedupKeep(_, _)),
    "q58_length_profile" -> sqlQuery(docs, lengthProfileSql),
    "q60_label_centroids" -> sqlQuery(embs, centroidsSql),
    "q61_kmeans_assign" -> sqlQuery(embs, kmeansAssignSql),
    "q62_ivf_trained" -> sqlQuery(embs, ivfTrainedSql),
    "q64_kmeans_train" -> (kmeansTrain(_, _)),
    "q65_ivf_converged" -> (ivfConverged(_, _)),
    "q68_doc_chunking" -> sqlQuery(docs, chunkingSql),
    "q69_stopword_filter" -> sqlQuery(docs, stopwordSql),
    "q76_quantized_ann" -> sqlQuery(embs, quantizedAnnSql),
    "q78_sequence_packing" -> sqlQuery(docs, packingSql),
    "q79_bigram_lm" -> sqlQuery(docs, bigramLmSql),
    "q85_ann_recall" -> sqlQuery(embs, annRecallSql),
    "q89_train_split" -> sqlQuery(docs, splitSql),
    "q90_matryoshka_ann" -> sqlQuery(embs, matryoshkaAnnSql),
    "q91_compression_ratio" -> sqlQuery(docs, compressionSql),
    "q109_zipf_audit" -> sqlQuery(docs, zipfSql),
    "q110_pii_scrub" -> sqlQuery(docs, piiSql),
    "q111_pagerank" -> (pagerankQuery(_, _)),
    "q112_semdedup" -> sqlQuery(embs, semdedupSql()),
    "q113_decontam_ngram" -> sqlQuery(docsRp, decontamSql),
    "q114_token_drift" -> sqlQuery(docs, tokenDriftSql),
    "q130_exact_substring" -> sqlQuery(docsRp, exactSubstringSql()),
    "q97_bpe_pairs" -> (bpePairs(_, _)),
    "q98_bpe_vocab" -> (bpeVocab(_, _)),
    "q99_bpe_tokenize" -> (bpeTokenize(_, _)),
    "q118_dsir_weights" -> sqlQuery(docs, dsirSql),
    "q119_bpe_fertility" -> (bpeFertility(_, _)),
    "q134_byte_bpe_fertility" -> (byteBpeFertility(_, _)),
    "q240_byte_bpe_roundtrip" -> (byteBpeRoundTrip(_, _)),
    "q121_quality_rules" -> sqlQuery(docs, qualityRulesSql),
    "q144_quality_classifier" -> (qualityClassifierQuery(_, _)),
    "q145_pca_power" -> (pcaPowerQuery(_, _)),
    "q148_temperature_mixture" -> sqlQuery(docs, temperatureMixtureSql),
    "q154_line_dedup" -> sqlQuery(docs, lineDedupSql),
    "q155_tfidf_keywords" -> sqlQuery(docs, tfidfSql),
    "q159_pq_ann" -> sqlQuery(embs, pqAnnSql),
    "q161_ppx_buckets" -> sqlQuery(docs, ppxBucketSql),
    "q164_dedup_audit" -> sqlQuery(docsRp, dedupAuditSql),
    "q168_eval_sampler" -> sqlQuery(docs, evalSamplerSql),
    "q169_emb_outliers" -> sqlQuery(embs, embOutlierSql),
    "q176_bloom_decontam" -> (bloomDecontam(_, _)),
    "q184_memorization_audit" -> sqlQuery(docs, memorizationSql),
    "q185_sparse_cosine_topk" -> sqlQuery(docs, sparseCosineSql),
    "q186_random_projection" -> sqlQuery(embs, randomProjSql),
    "q189_wordpiece_tokenizer" -> (wordpieceQuery(_, _)),
    "q192_hard_negatives" -> sqlQuery(embs, hardNegSql),
    "q194_pca_top2" -> (pcaTop2Query(_, _)),
    "q195_sequence_mining" -> sqlQuery(evts, seqMineSql),
    "q198_ranking_metrics" -> sqlQuery(embs, rankMetricsSql),
    "q199_label_propagation" -> (labelPropQuery(_, _)),
    "q200_pipeline_funnel" -> sqlQuery(docs, pipelineFunnelSql),
    "q205_html_extract" -> sqlQuery(docs, htmlExtractSql),
    "q211_url_canon" -> sqlQuery(docs, urlCanonSql),
    "q202_incremental_dedup" -> sqlQuery(docs, incrementalDedupSql),
    "q247_unigram_vocab" -> (unigramVocabQuery(_, _)),
    "q248_unigram_segment" -> (unigramSegmentQuery(_, _)))

  override val oracles: Map[String, String] = Map(
    "q21_exact_dedup" ->
      """SELECT md5(lower(text)) AS content_hash, min(doc_id) AS keeper_doc_id, count(1) AS n_copies
         FROM documents GROUP BY 1 ORDER BY keeper_doc_id""",
    "q22_minhash_lsh" -> minhashOracle(),
    "q23_simhash" -> simhashOracle,
    "q24_ngram_jaccard" -> ngramJaccardOracle(),
    "q25_knn_bruteforce" -> knnOracle,
    "q26_knn_lsh" -> lshKnnOracle,
    "q27_token_stats" -> tokenStatsOracle,
    "q28_quality_score" -> qualityOracle,
    "q29_langid" -> langidSql(spark = false),
    "q30_fingerprint" -> fingerprintOracle,
    "q31_multimodal_meta" -> multimodalOracle,
    "q37_embed_neardup" -> embedNeardupOracle(),
    "q38_knn_ivf" -> ivfKnnOracle,
    "q41_dup_clusters" -> dupClustersOracle(),
    "q51_bm25" -> bm25Oracle,
    "q53_contamination" -> contaminationOracle,
    "q54_vocab" -> vocabOracle,
    "q55_data_mixture" -> mixtureOracle,
    "q56_repetition" -> repetitionOracle,
    "q57_dedup_keep" -> dedupKeepOracle(),
    "q58_length_profile" -> lengthProfileOracle,
    "q60_label_centroids" -> centroidsOracle,
    "q61_kmeans_assign" -> kmeansAssignOracle,
    "q62_ivf_trained" -> ivfTrainedOracle,
    "q64_kmeans_train" -> kmeansTrainOracle,
    "q65_ivf_converged" -> ivfConvergedOracle,
    "q68_doc_chunking" -> chunkingOracle,
    "q69_stopword_filter" -> stopwordOracle,
    "q76_quantized_ann" -> quantizedAnnOracle,
    "q78_sequence_packing" -> packingOracle,
    "q79_bigram_lm" -> bigramLmOracle,
    "q85_ann_recall" -> annRecallOracle,
    "q89_train_split" -> splitOracle,
    "q90_matryoshka_ann" -> matryoshkaAnnOracle,
    "q91_compression_ratio" -> compressionOracle,
    "q97_bpe_pairs" -> bpePairsOracle,
    "q98_bpe_vocab" -> bpeVocabOracle,
    "q99_bpe_tokenize" -> bpeTokenizeOracle,
    "q118_dsir_weights" -> dsirOracle,
    "q119_bpe_fertility" -> bpeFertilityOracle,
    "q134_byte_bpe_fertility" -> byteBpeFertilityOracle,
    "q240_byte_bpe_roundtrip" -> byteBpeRoundTripOracle,
    "q121_quality_rules" -> qualityRulesOracle,
    "q109_zipf_audit" -> zipfOracle,
    "q110_pii_scrub" -> piiOracle,
    "q111_pagerank" -> pagerankOracle,
    "q112_semdedup" -> semdedupOracle(),
    "q113_decontam_ngram" -> decontamOracle,
    "q130_exact_substring" -> exactSubstringOracle(),
    "q114_token_drift" -> tokenDriftOracle,
    "q144_quality_classifier" -> qualityClassifierOracle,
    "q145_pca_power" -> pcaOracle,
    "q148_temperature_mixture" -> temperatureMixtureOracle,
    "q154_line_dedup" -> lineDedupOracle,
    "q155_tfidf_keywords" -> tfidfOracle,
    "q159_pq_ann" -> pqAnnOracle,
    "q161_ppx_buckets" -> ppxBucketOracle,
    "q164_dedup_audit" -> dedupAuditOracle,
    "q168_eval_sampler" -> evalSamplerOracle,
    "q169_emb_outliers" -> embOutlierOracle,
    "q176_bloom_decontam" -> bloomDecontamOracle,
    "q184_memorization_audit" -> memorizationOracle,
    "q185_sparse_cosine_topk" -> sparseCosineOracle,
    "q186_random_projection" -> randomProjOracle,
    "q189_wordpiece_tokenizer" -> wordpieceOracle,
    "q247_unigram_vocab" -> unigramVocabOracle,
    "q248_unigram_segment" -> unigramSegmentOracle,
    "q192_hard_negatives" -> hardNegOracle,
    "q194_pca_top2" -> pcaTop2Oracle,
    "q195_sequence_mining" -> seqMineOracle,
    "q198_ranking_metrics" -> rankMetricsOracle,
    "q199_label_propagation" -> labelPropOracle,
    "q200_pipeline_funnel" -> pipelineFunnelOracle,
    "q205_html_extract" -> htmlExtractOracle,
    "q211_url_canon" -> urlCanonOracle,
    "q202_incremental_dedup" -> incrementalDedupOracle)
}
