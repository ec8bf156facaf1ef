package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Shuffle-VOLUME assertions: PlanSpec pins plan shapes; this spec pins
  * the actual bytes crossing the wire, read from the executed plan's
  * shuffle-write SQL metrics. These are the numeric tripwires for the
  * SURVEY §2 scale claims — e.g. the minhash pipeline's "shuffles
  * ~100 B of signature per document, never the shingle blow-up": if a
  * Generate/DISTINCT formulation ever sneaks back in, the byte count
  * jumps by orders of magnitude and this fails long before a human
  * notices a slow plan. Thresholds carry ~4x headroom over measured
  * sf0.01 values, far below the nearest pathological regression. */
class ShuffleSpec extends SparkSpec {

  private def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      allNodes(a.executedPlan)
    case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      allNodes(s.plan)
    case other => other +: other.children.flatMap(allNodes)
  }

  /** Total shuffle bytes written across EVERY job the query runs —
    * including eager localCheckpoint materializations during query
    * CONSTRUCTION (the executed-plan SQL metrics miss those: a
    * checkpointed stage runs as its own job, invisible to the final
    * plan, which would blind the tripwire to exactly the upstream
    * regressions it exists to catch). The DataFrame is built by-name
    * INSIDE the counted block. */
  private def shuffleBytes(mk: => DataFrame): Long =
    graft.JobCount(spark.sparkContext)(mk.collect()).shuffleBytes

  test("minhash LSH shuffles signatures, never the shingle blow-up") {
    val b = shuffleBytes(Llm.qDedupMinhashLsh(spark, sf("sf0.01")))
    info(s"q_dedup_minhash_lsh shuffle bytes at sf0.01: $b")
    // 500 docs x ~510 shingles x ~33 B ≈ 8+ MB if the explode+DISTINCT
    // formulation ever returns; the signature plan stays in the tens of KB
    assert(b < 1000 * 1000, s"signature-only claim violated: $b bytes")
  }

  test("reservoir sample shuffles only the per-key survivors") {
    val b = shuffleBytes(Curate.qSampleReservoir(spark, sf("sf0.01")))
    info(s"q_sample_reservoir shuffle bytes at sf0.01: $b")
    // TopKPerKey ships <=20 rows per lang (plus partial heaps), not the corpus
    assert(b < 200 * 1000, s"bounded-heap claim violated: $b bytes")
  }

  test("flagship aggregation shuffles only map-side partials") {
    val b = shuffleBytes(Aggs.qAggPricing(spark, sf("sf0.01")))
    info(s"q_agg_pricing shuffle bytes at sf0.01: $b")
    // 60k rows reduce to a handful of (flag, status) partials per task
    assert(b < 100 * 1000, s"partial-agg claim violated: $b bytes")
  }

  test("capped sessionization shuffles one fixed-width pass of the events") {
    val b = shuffleBytes(StreamingQ.qStreamSessionCapped(spark, sf("sf0.01")))
    info(s"q_stream_session_capped shuffle bytes at sf0.01: $b")
    // 10k events x 4 longs: the secondary-sort repartition + the final
    // order; anything re-shuffling per-user histories would multiply this
    assert(b < 2000 * 1000, s"secondary-sort claim violated: $b bytes")
  }

  test("char-ngram dedup band-joins signatures; corpus text never shuffles") {
    val b = shuffleBytes(Llm.qDedupJaccardNgram(spark, sf("sf0.01")))
    info(s"q_dedup_jaccard_ngram shuffle bytes at sf0.01: $b")
    // the pre-round-7 one-phase formulation shuffled the corpus text
    // twice through its mh0 self-join (~2+ MB at sf0.01); the two-phase
    // plan ships ~24 B/doc signatures + broadcast candidate pairs
    assert(b < 500 * 1000, s"text-free band-join claim violated: $b bytes")
  }

  test("keep_canonical: signatures + (id,label) pairs, never the corpus") {
    val b = shuffleBytes(Llm.qDedupKeepCanonical(spark, sf("sf0.01")))
    info(s"q_dedup_keep_canonical shuffle bytes at sf0.01: $b")
    // LSH signatures + CC label rounds + the drop-set left join; the
    // round-6 bench regression had no tripwire — now a plan change that
    // re-shuffles doc text (or a CC round that stops converging) trips
    // here instead of surfacing as an unexplained bench delta
    assert(b < 1000 * 1000, s"dedup-apply shuffle claim violated: $b bytes")
  }

  test("corpus shuffle ships only (doc_id, key) pairs, never text") {
    val b = shuffleBytes(Curate.qCorpusShuffle(spark, sf("sf0.01")))
    info(s"q_corpus_shuffle shuffle bytes at sf0.01: $b")
    // 500 docs x ~2 KB text ≈ 1+ MB if the permutation ever drags the
    // text column through; (doc_id, k) pairs + bucket counts stay tiny
    assert(b < 200 * 1000, s"key-only claim violated: $b bytes")
  }

  test("IVF assignment never shuffles embeddings: per-row argmin vs broadcast centroids") {
    graft.expressions.VectorOps.register(spark)
    val e = graft.Tables.embeddings(spark, sf("sf0.01"))
      .select(org.apache.spark.sql.functions.col("vec_id"),
              org.apache.spark.sql.functions.col("embedding"))
    val b = shuffleBytes(Llm.ivfAssign(e, Llm.ivfSeedCentroids(e)))
    info(s"ivfAssign shuffle bytes at sf0.01: $b")
    // the round-7 window formulation shipped every embedding k=8 times
    // through a row_number exchange (~2+ MB at sf0.01); the per-row
    // argmin ships only the k-row centroid array's partial-agg buffers
    assert(b < 100 * 1000, s"assignment shuffled the corpus: $b bytes")
  }

  test("pack_sequences shuffles bucket metadata, not the corpus tokens") {
    val b = shuffleBytes(Pipeline.qPackSequences(spark, sf("sf0.01")))
    info(s"q_pack_sequences shuffle bytes at sf0.01: $b")
    assert(b < 1000 * 1000, s"prefix-engine claim violated: $b bytes")
  }

  test("perplexity gate broadcasts the LM; the bigram stream never shuffles") {
    val b = shuffleBytes(Pipeline.qTextPerplexityGate(spark, sf("sf0.01")))
    info(s"q_text_perplexity_gate shuffle bytes at sf0.01: $b")
    // 500 docs x ~99 bigrams x ~30 B ≈ 1.5 MB if the scoring join ever
    // shuffles the pair stream; LM/unigram/per-doc partials stay tiny
    assert(b < 300 * 1000, s"broadcast-LM claim violated: $b bytes")
  }

  test("soft-weight dedup shuffles 16-char hashes, never text") {
    val b = shuffleBytes(Llm.qDedupSoftWeight(spark, sf("sf0.01")))
    info(s"q_dedup_soft_weight shuffle bytes at sf0.01: $b")
    // (doc_id, hash) pairs twice (group agg + verdict join) ≈ 50 B/doc;
    // corpus text would be ~500 B/doc
    assert(b < 200 * 1000, s"hash-only claim violated: $b bytes")
  }

  test("e2e pipeline shuffles ids and hashes; text dropped at the scan") {
    val b = shuffleBytes(Pipeline.qPipelineE2e(spark, sf("sf0.01")))
    info(s"q_pipeline_e2e shuffle bytes at sf0.01: $b")
    // gate+hash fuse into the scan; dedup/mix/permute move ~40 B/doc
    // (hash agg + canon join + bucket counts); the ~500 B/doc corpus
    // text never crosses the wire
    assert(b < 300 * 1000, s"id/hash-only claim violated: $b bytes")
  }

  test("triangle counting shuffles id pairs, bounded wedges") {
    val b = shuffleBytes(Graph.qGraphTriangles(spark, sf("sf0.01")))
    info(s"q_graph_triangles shuffle bytes at sf0.01: $b")
    // ~2.5k edges and ~7k wedges of 3 longs each at sf0.01; payloads
    // (text/embeddings) would be orders of magnitude above this
    assert(b < 1000 * 1000, s"id-pair claim violated: $b bytes")
  }

  test("maxsim ships (passage, qid, max) aggregates only") {
    val b = shuffleBytes(Llm.qSimMaxsim(spark, sf("sf0.01")))
    info(s"q_sim_maxsim shuffle bytes at sf0.01: $b")
    // the 4-row query broadcasts; corpus vectors (64 doubles) never
    // shuffle - only two hash-agg passes of ~24 B rows
    assert(b < 100 * 1000, s"broadcast-query claim violated: $b bytes")
  }

  test("weighted sample ships per-partition top-k only") {
    val b = shuffleBytes(Curate.qSampleWeighted(spark, sf("sf0.01")))
    info(s"q_sample_weighted shuffle bytes at sf0.01: $b")
    // TakeOrderedAndProject: <=100 rows per map task cross the wire
    assert(b < 50 * 1000, s"bounded top-k claim violated: $b bytes")
  }

  test("CDC upsert shuffles one candidate per key per partition") {
    val b = shuffleBytes(StreamingQ.qStreamCdcUpsert(spark, sf("sf0.01")))
    info(s"q_stream_cdc_upsert shuffle bytes at sf0.01: $b")
    // partial_max runs before the exchange: <= n_users x n_partitions
    // candidate structs (~60 B each) cross the wire, not the 10k-event
    // stream — a windowed row_number formulation would shuffle every
    // event and trip this
    assert(b < 200 * 1000, s"partial-agg claim violated: $b bytes")
  }
}
