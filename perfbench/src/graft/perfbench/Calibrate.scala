package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.near.{NearConfig, NearDup}

/** Compares the generator's corpus with a `documents` table of the project's
  * test data (doc_id, text, lang, source, n_chars), on what decides the work
  * of the engine's layers: document length, 5-shingle Jaccard of unrelated
  * documents, and the sizes of the MinHash band and SimHash chunk buckets
  * the candidate layer joins in. perfbench/README.md records the result.
  *
  *     java ... graft.perfbench.Calibrate <scratch dir> <documents.parquet> [seed]
  *
  * Both corpora go through the fixture's variant planting
  * (`graft.Tables.corpusOf`), so the bucket sizes are those of the files
  * the engine's representatives step keeps. */
object Calibrate {
  def main(args: Array[String]): Unit = {
    val root = args(0)
    val spark = Main.session(Main.Opts("calibrate", 0L, 1, trace = false, root, 4))
    val seed = if (args.length > 2) args(2).toLong else 1L
    val real = spark.read.parquet(args(1)).select("doc_id", "text", "lang", "source", "n_chars")
    val n = real.count().toInt
    // the generator's replica 0, in the documents table's shape
    val gen = spark.read.parquet(s"${Gen.landed(spark, s"$root/data", "calibrate", seed, 1, n)}/files")
      .where(col("repo").startsWith("src"))
      .select(col("file_id").as("doc_id"), col("content").as("text"), col("lang"),
        regexp_replace(col("repo"), "_r0$", "").as("source"), col("size").as("n_chars"))
    Seq("documents table" -> real, s"generator, seed $seed" -> gen).foreach { case (what, d) =>
      println(s"== $what: ${stats(d).mkString("; ")}")
    }
    spark.stop()
  }

  private def q(xs: Seq[Double], ps: Double*): String =
    ps.map(p => xs.sorted.apply(math.min(xs.size - 1, (p * xs.size).toInt)))
      .map(v => if (v == v.round) v.round.toString else f"$v%.3f").mkString("/")

  def stats(docs: DataFrame): Seq[String] = {
    val texts = docs.select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    val lens = texts.map(_._2.length.toDouble).toSeq
    val words = texts.flatMap(_._2.split(" ")).groupBy(identity).size
    val rnd = new java.util.SplittableRandom(42L)
    val js = Seq.fill(3000) {
      val i = rnd.nextInt(texts.length)
      val j = (i + 1 + rnd.nextInt(texts.length - 1)) % texts.length
      Checks.jaccard5(texts(i)._2, texts(j)._2)
    }
    val cfg = NearConfig()
    val reps = NearDup.representatives(graft.Tables.corpusOf(docs), cfg)
    val sigs = NearDup.signalFrame(reps, cfg).cache()
    val w = cfg.simBits / cfg.simChunks
    val chunks = sigs.select(posexplode(expr(
      s"transform(sequence(0, ${cfg.simChunks - 1}), c -> shiftright(simhash, c * $w) & ${(1L << w) - 1})")))
      .select(col("pos").as("idx"), col("col").as("key"))
    val bands = NearDup.bandsOf(sigs, cfg).select(col("band_idx").as("idx"), col("band_key").as("key"))
    def buckets(rows: DataFrame): String = {
      val b = rows.groupBy("idx", "key").agg(count(lit(1)).as("n"))
        .agg(max("n"), sum(when(col("n") > cfg.hotBucket && col("n") <= cfg.maxBucket, 1L)),
          sum(when(col("n") > cfg.maxBucket, 1L)))
        .head()
      s"largest ${b.getLong(0)}, ${Option(b.get(1)).getOrElse(0L)} hot (>${cfg.hotBucket}), " +
        s"${Option(b.get(2)).getOrElse(0L)} over the cap (>${cfg.maxBucket})"
    }
    val nReps = sigs.count()
    val out = Seq(
      s"${texts.length} docs",
      s"length min/p10/p25/p50/p75/p90/max ${q(lens, 0, .1, .25, .5, .75, .9, 1)}",
      s"$words distinct words",
      s"${texts.count(_._2.endsWith(" dup"))} docs end in ' dup'",
      s"unrelated-pair Jaccard p50/p90/p99/max ${q(js, .5, .9, .99, 1)}",
      s"$nReps representatives",
      s"SimHash chunk buckets: ${buckets(chunks)}",
      s"MinHash band buckets: ${buckets(bands)}")
    sigs.unpersist()
    out
  }
}
