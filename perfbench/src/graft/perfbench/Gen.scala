package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator of the landed `files` tables the workloads read.
  *
  * A corpus replica is calibrated to the project's sf0.1 `documents` test
  * table (the comparison is in perfbench/README.md): documents of 10..98
  * words (at least 44 chars) drawn uniformly from the same 30-word
  * vocabulary, so unrelated documents share a fifth of their 5-shingles and
  * SimHash puts most of them in a few hot chunk buckets, as there; 1 in 20
  * documents is a near-copy of another one (its text plus " dup"); langs
  * and sources are spread as there. The fixture corpus (`graft.Tables
  * .corpusOf`) then plants its variants on a seeded subset of documents —
  * `mirror` (1 in 3, verbatim copy), `mirror2` (1 in 9, a subset of the
  * mirrored docs, so those form sets of exactly 3), `fork` (1 in 5, last 8
  * chars dropped: a near-duplicate that is not an exact one) and `foil`
  * (1 in 7, same size and prefix, last char rewritten: split only by the
  * full hash). Replica `r > 0` applies a seeded word permutation to every
  * document, so replicas do not near-match each other.
  *
  * Every row is a pure function of (seed, replica, doc), so the table is
  * generated in parallel from `spark.range` and the same seed always lands
  * the same rows. The engine only ever sees the landed parquet table.
  */
object Gen {

  /** Bumped whenever the generated rows change: cached tables carry it. */
  val Version = 3

  /** File ids: replica * IdStride + variant * 1000000 + doc index. */
  val IdStride = 10000000L

  final case class FileRow(file_id: Long, repo: String, path: String,
                           commit: String, lang: String, content: String,
                           size: Long)

  /** The sf0.1 documents' vocabulary, drawn uniformly there too. */
  private val vocab: Array[String] = ("spark merge window stream table column vector " +
    "data value small join big filter group hash sort order customer slow line fast " +
    "part row agg the a key query scan batch").split(" ")
  /** en 41%, de/fr/es/zh 14-15% each, as in the sf0.1 documents. */
  private def langOf(u: Long): String = {
    val p = (u % 100).toInt
    if (p < 41) "en" else if (p < 55) "de" else if (p < 70) "fr" else if (p < 85) "es" else "zh"
  }

  /** splitmix64 finalizer: the one hash every seeded choice goes through. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def h(seed: Long, tag: Int, a: Long, b: Long = 0L): Long =
    mix(mix(mix(seed * 31 + tag) ^ a) ^ (b * 0x632BE59BD9B4E019L))

  private def nonNeg(x: Long): Long = x & Long.MaxValue

  /** Which planted variants doc `d` of replica `r` gets. */
  def isMirror(seed: Long, r: Int, d: Int): Boolean = nonNeg(h(seed, 1, r, d)) % 3 == 0
  def isMirror2(seed: Long, r: Int, d: Int): Boolean = nonNeg(h(seed, 1, r, d)) % 9 == 0
  def isFork(seed: Long, r: Int, d: Int): Boolean = nonNeg(h(seed, 2, r, d)) % 5 == 0
  def isFoil(seed: Long, r: Int, d: Int): Boolean = nonNeg(h(seed, 3, r, d)) % 7 == 0

  /** A document that copies another one: 1 in 20. */
  def isDupDoc(seed: Long, d: Int): Boolean = nonNeg(h(seed, 8, d)) % 20 == 0
  /** The document a dup document copies (never itself). */
  def dupSource(seed: Long, d: Int, docs: Int): Int =
    ((d + 1 + nonNeg(h(seed, 9, d)) % (docs - 1)) % docs).toInt

  /** Words of base document `d`: 10..98 uniform draws, at least 44 chars. */
  def baseWords(seed: Long, d: Int): Array[String] = {
    val rnd = new java.util.SplittableRandom(h(seed, 5, d))
    val words = Array.fill(rnd.nextInt(10, 99))(vocab(rnd.nextInt(vocab.length)))
    var len = words.map(_.length + 1).sum - 1
    val more = scala.collection.mutable.ArrayBuffer.empty[String]
    while (len < 44) {
      val w = vocab(rnd.nextInt(vocab.length)); more += w; len += w.length + 1
    }
    words ++ more
  }

  /** Text of doc `d` in replica `r` (of `docs` documents): replica 0 keeps
    * the word order, others shuffle it with a seeded Fisher-Yates
    * permutation; a dup document is its source's text plus " dup". */
  def text(seed: Long, r: Int, d: Int, docs: Int): String =
    if (isDupDoc(seed, d)) ownText(seed, r, dupSource(seed, d, docs)) + " dup"
    else ownText(seed, r, d)

  private def ownText(seed: Long, r: Int, d: Int): String = {
    val words = baseWords(seed, d)
    if (r > 0) {
      val rnd = new java.util.SplittableRandom(h(seed, 6, r, d))
      var i = words.length - 1
      while (i > 0) {
        val j = rnd.nextInt(i + 1)
        val t = words(i); words(i) = words(j); words(j) = t
        i -= 1
      }
    }
    words.mkString(" ")
  }

  def lang(seed: Long, d: Int): String = langOf(nonNeg(h(seed, 7, d)))

  /** All rows of doc `d` in replica `r`: the base row and its variants. */
  def docRows(seed: Long, r: Int, d: Int, docs: Int): Seq[FileRow] = {
    val t = text(seed, r, d, docs)
    val l = lang(seed, d)
    val base = r * IdStride + d
    val path = s"doc_$d.txt"
    def row(off: Long, repo: String, c: String) =
      FileRow(base + off, s"${repo}_r$r", path, "c0", l, c, c.length.toLong)
    val out = Seq.newBuilder[FileRow]
    out += row(0L, s"src${d % 20}", t)
    if (isMirror(seed, r, d)) out += row(1000000L, "mirror", t)
    if (isMirror2(seed, r, d)) out += row(2000000L, "mirror2", t)
    if (isFork(seed, r, d)) out += row(3000000L, "fork", t.substring(0, t.length - 8))
    if (isFoil(seed, r, d)) out += row(4000000L, "foil", t.substring(0, t.length - 1) + "X")
    out.result()
  }

  /** `replicas` corpus replicas of `docs` documents each. */
  def corpus(spark: SparkSession, seed: Long, replicas: Int, docs: Int,
             partitions: Int): DataFrame = {
    import spark.implicits._
    spark.range(0L, replicas.toLong * docs, 1L, partitions).as[Long]
      .flatMap(k => Gen.docRows(seed, (k / docs).toInt, (k % docs).toInt, docs))
      .toDF()
  }

  /** Land the table once per (name, seed, generator version); later runs of
    * the same seed read the cached parquet. Returns the seed's directory:
    * the table is its `files` subdirectory, and what else a workload keeps
    * per seed (the stored db, the cluster fingerprint) sits beside it. */
  def landed(spark: SparkSession, root: String, name: String, seed: Long,
             replicas: Int, docs: Int): String = {
    val dir = new java.io.File(root,
      s"$name-r$replicas-d$docs-seed$seed-v$Version")
    val table = new java.io.File(dir, "files")
    if (!new java.io.File(table, "_SUCCESS").exists()) {
      Files.deleteTree(dir)
      dir.mkdirs()
      val tmp = new java.io.File(dir, s".tmp-${System.nanoTime()}")
      corpus(spark, seed, replicas, docs, spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(tmp.getPath)
      if (!tmp.renameTo(table)) sys.error(s"cannot land table at $table")
    }
    dir.getPath
  }

  /** Order-insensitive fingerprint of a table: row count and the xor of
    * per-row hashes over every column. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      coalesce(bit_xor(xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*)), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }
}

object Files {
  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  /** Bytes of every data file under `dir` (hidden/underscore files too: the
    * db's `_meta` table is part of what the scan stores). */
  def treeBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(treeBytes).sum
    else if (f.getName.endsWith(".crc")) 0L
    else f.length()
}
