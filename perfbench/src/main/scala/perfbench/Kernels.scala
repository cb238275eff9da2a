package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.sketch.BloomFilter

import graft.plans._

/** Microbench of the native expressions under `graft.plans`: each kernel
  * is a projection over a cached text column (the `documents` input,
  * replicated to a row count fixed per kernel) into a `noop` sink, best of
  * two.
  * Each kernel is also timed against an equivalent built from Spark's own
  * functions (or a UDF where Spark has none) and `vs_builtin` = kernel
  * time / equivalent time, below 1 when the kernel wins. The equivalents
  * use only Spark, so they do not depend on graft internals. */
object Kernels {
  /** Rows per kernel class: per-value hashes are cheap enough that fewer
    * rows would time Spark's per-job overhead instead of the kernel. */
  private val HashRows = 400000L
  private val TextRows = 20000L
  private val MinhashRows = 5000L
  private val Reps = 2

  def run(spark: SparkSession, inputs: String): Map[String, Any] = {
    val docs = spark.read.parquet(s"$inputs/documents.parquet").select("text")
    val n = docs.count()
    def replicated(rows: Long): DataFrame = {
      val df = docs.crossJoin(spark.range((rows + n - 1) / n).toDF("copy"))
        .select(concat_ws(" ", col("text"), col("copy").cast("string")).as("text"))
        .repartition(spark.sparkContext.defaultParallelism)
        .persist(StorageLevel.MEMORY_ONLY)
      df.count()
      df
    }
    val inputsByRows = Seq(HashRows, TextRows, MinhashRows).map(r => r -> replicated(r)).toMap
    val bloom = {
      val bf = BloomFilter.create(TextRows, 0.01)
      inputsByRows(TextRows).collect().foreach(r => bf.putBinary(r.getString(0).getBytes(UTF_8)))
      spark.sparkContext.broadcast(bf)
    }
    val t = col("text")
    def project(c: Column): DataFrame => DataFrame = _.select(c.as("k"))
    // built-in forms materialize shared sub-results (tokens, shingles,
    // token hashes) as a column first: Spark has no `let`, and inlining
    // them would re-evaluate the array per reference
    val kernels: Seq[(String, Long, Column, DataFrame => DataFrame)] = Seq(
      ("mmh3_hash64", HashRows, Mmh3Hash64.mmh3_64(t), project(xxhash64(t))),
      ("bloom_might_contain", HashRows, BloomMightContain.might_contain(t, bloom),
        project(udf((s: String) => bloom.value.mightContainBinary(s.getBytes(UTF_8))).apply(t))),
      ("md5", HashRows, udf((s: String) => PerfbenchMd5.hex(s.getBytes(UTF_8))).apply(t),
        project(md5(t))),
      ("simhash16", TextRows, Simhash16Expression.simhash16(t), simhash16Builtin),
      ("word_shingles", TextRows, WordShinglesExpression.word_shingles(t, 3), shinglesBuiltin(3)),
      ("fingerprint", TextRows, FingerprintExpression.doc_fingerprint(t, 5),
        shinglesBuiltin(5).andThen(project(array_min(transform(col("k"), s => md5(s)))))),
      ("minhash_signature", MinhashRows, MinhashSignatureExpression.minhash_signature(t, 3, 8),
        shinglesBuiltin(3).andThen(minhashOfShingles(8))))
    def nsPerRow(rows: Long, f: DataFrame => DataFrame): Double = {
      val in = inputsByRows(rows)
      val best = (1 to Reps).map { _ =>
        val t0 = System.nanoTime()
        f(in).write.format("noop").mode("overwrite").save()
        System.nanoTime() - t0
      }.min
      best.toDouble / rows
    }
    val out = Map.newBuilder[String, Any]
    out += "plans.passthrough.ns_per_row" -> nsPerRow(HashRows, project(t))
    kernels.foreach { case (name, rows, kernel, builtin) =>
      val ns = nsPerRow(rows, project(kernel))
      out += s"plans.$name.rows" -> rows
      out += s"plans.$name.ns_per_row" -> ns
      out += s"plans.$name.vs_builtin" -> ns / nsPerRow(rows, builtin)
    }
    inputsByRows.values.foreach(_.unpersist(false))
    bloom.destroy()
    out.result()
  }

  private def tokens(t: Column): Column = split(trim(t), "\\s+")

  /** Word n-gram shingles of `text` into column `k`. */
  private def shinglesBuiltin(n: Int): DataFrame => DataFrame = df => {
    val toks = col("toks")
    df.select(tokens(col("text")).as("toks")).select(
      when(size(toks) < n, array(concat_ws(" ", toks)))
        .otherwise(transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n))))).as("k"))
  }

  /** `hashes` min-md5 lanes over the shingle array in column `k`. */
  private def minhashOfShingles(hashes: Int): DataFrame => DataFrame = df =>
    df.select(array((0 until hashes).map(i =>
      array_min(transform(col("k"), s => md5(concat(lit(s"$i:"), s))))): _*).as("k"))

  /** Majority vote per bit over 16-bit md5 prefixes of distinct tokens. */
  private def simhash16Builtin(df: DataFrame): DataFrame = {
    val h = col("h")
    val bits = (0 until 16).map { j =>
      val votes = aggregate(h, lit(0), (acc, x) => acc + shiftright(x, j).bitwiseAND(1))
      when(votes * 2 > size(h), lit(1 << j)).otherwise(lit(0))
    }
    df.select(transform(array_distinct(tokens(col("text"))),
        w => conv(substring(md5(w), 1, 4), 16, 10).cast(IntegerType)).as("h"))
      .select(bits.reduce(_ + _).as("k"))
  }
}
