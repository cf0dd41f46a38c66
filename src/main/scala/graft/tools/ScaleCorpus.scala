package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Block-replicated scale corpora: `factor`× copies of an sf directory's
  * documents and/or embeddings, the data behind SCALING.md's scale points.
  * Re-run a point by generating the corpus, then timing a query over it
  * with `runMain graft.tools.QueryRunner <query> <genDir>`.
  *
  * Construction (deterministic, structure-preserving): `factor` blocks,
  * block 0 the original. Replication must preserve WITHIN-block near-dup
  * structure exactly while keeping blocks mutually disjoint — otherwise
  * every original near-dup pair reappears across all block pairs and the
  * OUTPUT grows ~factor², poisoning the measurement of the operators
  * themselves.
  *   - documents: block b appends `_b{b}` to every token. A per-block
  *     token suffix is a BIJECTION on the shingle vocabulary: within-block
  *     Jaccard/winnowing/containment structure is exactly the original's,
  *     while cross-block shingle sets are disjoint (zero similarity).
  *   - embeddings: block b multiplies dimension i by a deterministic ±1
  *     sign s(b,i) (splitmix hash; block 0 all +1). Sign masks preserve
  *     every within-block dot product exactly (Σ s_i² x_i y_i = x·y) and
  *     leave cross-block cosines near 0 (E[cos] = 0 under ~32 flipped
  *     dims), so the LSH/minhash candidate structure scales linearly.
  *   - id stride 10M per block — clear of the q_ann_lsh augmentation
  *     stride (3 × 1M) and of every real id.
  *
  * Usage: runMain graft.tools.ScaleCorpus [srcDir] [factor] [genDir]
  * (defaults /root/testdata/sf0.1, 10, /tmp/graft_scale<factor>x); the
  * other tables are not replicated but linked from srcDir, so genDir is
  * a complete sf directory.
  */
object ScaleCorpus {

  val BlockStride = 10000000L

  private[graft] def sign(b: Int, i: Int): Float = {
    var z = b.toLong * 0x9E3779B97F4A7C15L + i.toLong * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    if (z > 0) 1.0f else -1.0f
  }

  /** Vectors-only corpus scaling (the IVF/IMI queries read only
    * embeddings.parquet). Blocks are written in chunked append jobs so
    * factor = 1000 never builds a 1000-way union plan. */
  def generateEmbeddings(spark: SparkSession, src: String, factor: Int,
                         out: String, chunk: Int = 50): Unit = {
    val dim = graft.operators.Similarity.Dim
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    (0 until factor).grouped(chunk).zipWithIndex.foreach { case (bs, ci) =>
      val blocks = bs.map { b =>
        if (b == 0) emb
        else emb.select(
          (col("vec_id") + lit(b * BlockStride)).as("vec_id"),
          array((1 to dim).map(i =>
            element_at(col("embedding"), i) * lit(sign(b, i))): _*).as("embedding"),
          col("label"))
      }
      blocks.reduce(_ unionAll _).write
        .mode(if (ci == 0) "overwrite" else "append")
        .parquet(s"$out/embeddings.parquet")
    }
  }

  /** Documents-only block replication, chunked like [[generateEmbeddings]]
    * (a factor-wide unionAll plan stops being analyzable near 1000 children;
    * content is block-for-block identical to the unchunked original). */
  def generateDocs(spark: SparkSession, src: String, factor: Int,
                   out: String, chunk: Int = 50): Unit = {
    val docs = spark.read.parquet(s"$src/documents.parquet")
    (0 until factor).grouped(chunk).zipWithIndex.foreach { case (bs, ci) =>
      val blocks = bs.map { b =>
        if (b == 0) docs
        else docs.select(
          (col("doc_id") + lit(b * BlockStride)).as("doc_id"),
          regexp_replace(col("text"), "(\\S+)", "$1_b" + b).as("text"),
          col("lang"), col("source"),
          length(regexp_replace(col("text"), "(\\S+)", "$1_b" + b)).cast("long").as("n_chars"))
      }
      blocks.reduce(_ unionAll _).write
        .mode(if (ci == 0) "overwrite" else "append")
        .parquet(s"$out/documents.parquet")
    }
  }

  /** Symbolic links in `out` to every other table of `src` (the ones the
    * generator does not replicate), so `out` reads as a complete sf
    * directory: a query over it finds those tables, and the schema canary
    * checks them instead of reporting each one unreadable. Local paths. */
  private[graft] def linkOtherTables(src: String, out: String): Unit = {
    import java.nio.file.{Files, Paths}
    val from = Paths.get(src).toAbsolutePath
    val listing = Files.list(from)
    try listing.iterator().forEachRemaining { t =>
      val name = t.getFileName.toString
      val link = Paths.get(out, name)
      if (name.endsWith(".parquet") && !Files.exists(link, java.nio.file.LinkOption.NOFOLLOW_LINKS))
        Files.createSymbolicLink(link, t)
    }
    finally listing.close()
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = if (args.length > 1) args(1).toInt else 10
    val gen = if (args.length > 2) args(2) else s"/tmp/graft_scale${factor}x"
    val spark = Harness.session()
    generateDocs(spark, src, factor, gen)
    generateEmbeddings(spark, src, factor, gen)
    linkOtherTables(src, gen)
    println(s"[scale] wrote the ${factor}x corpus to $gen")
    spark.stop()
  }
}
