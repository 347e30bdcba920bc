package graft

import org.apache.spark.sql.functions._

/** Scale-evidence corpus generator: a deterministic N× blow-up of the
  * documents/embeddings tables, used to measure how the heavy dedup /
  * ANN paths grow with corpus size (bench/SCALE_r06.json).
  *
  * Construction and what it models:
  *   - documents: N vocabulary-disjoint shards — every copy k prefixes
  *     each token with `s{k}x`, so shard k's shingles never collide
  *     with shard j's. Per-shard document-frequency distribution,
  *     planted near-dup pairs, and doc-length mix are exactly the
  *     source corpus's; totals scale linearly BY CONSTRUCTION. This
  *     isolates the engine's scaling (shuffle width, partition counts,
  *     join fan-out) from corpus-statistics drift. A real N× crawl
  *     also grows the SHARED-shingle mass, which the exact-Jaccard
  *     baseline's candidate join inherits super-linearly — that is a
  *     property of the data, documented in Dedup's scaladoc; the LSH
  *     paths bound it by banding either way.
  *   - embeddings: N× fresh deterministic pseudo-random vectors
  *     (xxhash64(vec_id, dim) mapped to [-1, 1]) — structureless like
  *     the source's random unit vectors, and NOT near-duplicates of
  *     one another, so sim_near_dup's pair count stays degenerate-free
  *     at any N (copying vectors verbatim would plant C(N,2) exact
  *     dups per vector and measure an adversarial corpus, not scale).
  *
  * A fourth argument `overlap` switches to the ADVERSARIAL-OVERLAP
  * variant: every document is additionally prefixed with one fixed
  * 12-token boilerplate sentence shared across ALL copies and shards.
  * Its interior word-trigrams then have document frequency ≈ 1.0 at
  * every scale — the shared-shingle mass the vocabulary-disjoint
  * construction deliberately holds linear — so this corpus stresses
  * the `maxDocFreq` hot-shingle guard: without it, the boilerplate
  * shingles dominate MinHash signatures and the banded self-join
  * degenerates toward one corpus-sized bucket; with it they are
  * discounted and candidate mass stays bounded by real content.
  * True near-dup pairs stay the per-shard planted ones (linear):
  * 12 boilerplate tokens cannot lift two unrelated documents to the
  * 0.8 Jaccard verification bar.
  *
  * Usage: runMain graft.ScaleGen [srcDir] [outDir] [copies] [overlap]
  */
object ScaleGen {

  /** The fixed boilerplate sentence of the overlap variant (12 tokens
    * → 10 interior trigram shingles at df ≈ 1.0).
    */
  val Boilerplate: String =
    "terms of service apply to all content in this archive mirror copy"

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/scale10x")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val overlap = args.lift(3).contains("overlap")
    val cpus = GraftSession.cpus
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val scaledDocs = (0 until copies).map { k =>
      val shardText = concat_ws(" ", transform(split(col("text"), "\\s+"),
        t => concat(lit(s"s${k}x"), t)))
      docs.select(
        (col("doc_id") + lit(k.toLong * 10000000L)).as("doc_id"),
        (if (overlap) concat_ws(" ", lit(Boilerplate), shardText)
         else shardText).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ union _)
    scaledDocs.repartition(cpus.toInt)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    // orders: the keyed-target twin for the upsert scale legs
    // (upsert_orders / upsert_row_counts had no 10× row while ScaleGen
    // carried only documents/embeddings). Copy k offsets every key by
    // k·10⁹ — far past upsertOrders' +2·10⁷ synthetic-insert offset,
    // so a scaled copy's inserts can never collide with a later
    // copy's real keys (which would turn inserts into updates AND
    // trip V10 duplicate-key detection). Priorities copy verbatim, so
    // update/insert delta volume scales linearly by construction.
    val orders = spark.read.parquet(s"$src/orders.parquet")
    val scaledOrders = (0 until copies).map { k =>
      orders.withColumn("o_orderkey",
        col("o_orderkey") + lit(k.toLong * 1000000000L))
    }.reduce(_ union _)
    scaledOrders.repartition(cpus.toInt)
      .write.mode("overwrite").parquet(s"$out/orders.parquet")

    val nVec = spark.read.parquet(s"$src/embeddings.parquet").count()
    val dims = 64
    val scaledEmb = spark.range(nVec * copies)
      .select(col("id").as("vec_id"))
      .select(col("vec_id"),
        transform(sequence(lit(0), lit(dims - 1)),
          d => (xxhash64(col("vec_id"), d).cast("double") /
            lit(9.223372036854776e18)).cast("float")).as("embedding"),
        lit(0).as("label"))
    scaledEmb.repartition(cpus.toInt)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    println(s"""{"docs":${scaledDocs.count()},"vecs":${nVec * copies},"out":"$out"}""")
    spark.stop()
  }
}
