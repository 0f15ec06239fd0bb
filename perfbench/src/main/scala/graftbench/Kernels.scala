package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Kernel layer: ns per row of graft's public native functions over a
  * seeded synthetic corpus ("graft-docs") held in memory, so the figure is
  * the kernel plus a fixed projection cost (`baseline`, the same pass that
  * only measures text length). */
object Kernels {

  val Rows = 20000
  val Reps = 3

  /** Seeded documents: 40-160 tokens from a 3000-word vocabulary with a
    * Zipf-like skew, about one word in twenty non-ASCII, plus a long key
    * with repeats for the distinct-count kernel. */
  def docs(spark: SparkSession, seed: Long): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val vocab = Array.tabulate(3000) { i =>
      val w = Integer.toString(i * 7919 + 17, 36)
      if (i % 20 == 7) w + "éß" else w
    }
    val rows = (0 until Rows).map { i =>
      val n = 40 + rnd.nextInt(121)
      val words = Array.fill(n)(vocab((vocab.length * math.pow(rnd.nextDouble(), 2.5)).toInt))
      if (rnd.nextInt(4) == 0) words(0) = words(0).toUpperCase
      (i.toLong, words.mkString(" "), rnd.nextInt(Rows / 4).toLong)
    }
    spark.createDataFrame(rows).toDF("doc_id", "text", "k")
  }

  private val replacePairs = Seq("the" -> "THE", "a1" -> "<a>", "zz" -> "z", "é" -> "e")

  def kernels: Seq[(String, DataFrame => DataFrame)] = Seq(
    "baseline" -> (_.select(length(col("text")))),
    "tokens" -> (_.select(graft.functions.tokens(col("text")))),
    "shingles" -> (_.select(expr("graft_shingles(text, 3)"))),
    "minhash" -> (_.select(expr("graft_minhash(graft_shingles(text, 3), 16)"))),
    "simhash" -> (_.select(expr("graft_simhash(text, 32)"))),
    "text_stats" -> (_.select(graft.functions.textStats(col("text")))),
    "replace_many" -> (_.select(graft.functions.replaceMany(col("text"), replacePairs))),
    "ndv" -> (_.agg(graft.functions.ndvAgg(col("k")))))

  /** name -> (min, median) ns/row over [[Reps]] timed runs after one warm run. */
  def measure(spark: SparkSession, seed: Long): Seq[(String, Double, Double)] = {
    val input = docs(spark, seed).persist(StorageLevel.MEMORY_ONLY)
    input.count()
    try kernels.map { case (name, f) =>
      def once(): Double = {
        val t0 = System.nanoTime()
        f(input).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0).toDouble / Rows
      }
      once()
      val ns = Seq.fill(Reps)(once()).sorted
      (name, ns.head, ns(ns.size / 2))
    } finally input.unpersist(blocking = true)
  }
}
