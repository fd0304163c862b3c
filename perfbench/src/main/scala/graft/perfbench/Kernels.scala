package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.{BingTile, Sketches}
import graft.operators.Ann
import graft.plans.NativeFunctions

/** Seven native kernels against their interpreted HOF oracles, on rows
  * generated from the workload seed: ns/row of both forms, and a parity
  * check on the same rows.
  */
object Kernels {
  private final case class Kernel(name: String, input: String, native: Column, hof: Column)

  private val kernels = Seq(
    Kernel("cosine", "vectors", Ann.cosine("a", "b"), Ann.cosineHof("a", "b")),
    Kernel("l2sq", "vectors", Ann.l2sq("a", "b"), Ann.l2sqHof("a", "b")),
    Kernel("minhash", "words", Sketches.minhashSignature("w"), Sketches.minhashSignatureHof("w")),
    Kernel("simhash", "words", Sketches.simhash("w"), Sketches.simhashHof("w")),
    // the form graft_word_counts documents itself as
    Kernel("word_counts", "words", NativeFunctions.wordCounts(col("w")), expr(
      "transform(array_distinct(w), t -> struct(t as term, cast(size(filter(w, x -> x = t)) as bigint) as c_dt))")),
    Kernel("tile_cover", "boxes",
      BingTile.envelopeCover(col("lo0"), col("la0"), col("lo1"), col("la1"), 12),
      BingTile.envelopeCoverHof(col("lo0"), col("la0"), col("lo1"), col("la1"), 12)),
    Kernel("md5_prefix", "words", NativeFunctions.md5Prefix32(col("s")),
      expr("cast(conv(substr(md5(s), 1, 8), 16, 10) as bigint)")))

  /** Inputs generated inside Spark from xxhash64(row id, seed), cached
    * and materialized before any timing.
    */
  private def inputs(spark: SparkSession, rows: Int, seed: Long): Map[String, DataFrame] = {
    def u(salt: String) = s"(cast(pmod(xxhash64(id, $salt, ${seed}L), 1000003) as double) / 1000003.0)"
    def gen(cols: String*): DataFrame = {
      val d = spark.range(0, rows, 1, 4).selectExpr(cols: _*).persist(StorageLevel.MEMORY_ONLY)
      d.write.format("noop").mode("overwrite").save()
      d
    }
    // a 400-word vocabulary, one to forty words per row
    val words = s"transform(sequence(0, cast(pmod(xxhash64(id, ${seed}L), 40) as int)), " +
      s"i -> concat('w', cast(pmod(xxhash64(id, i, ${seed}L), 400) as string)))"
    Map(
      "vectors" -> gen(
        s"transform(sequence(0, 63), i -> ${u("i")} - 0.5) as a",
        s"transform(sequence(0, 63), i -> ${u("i + 64")} - 0.5) as b"),
      "words" -> gen(s"$words as w", s"array_join($words, ' ') as s"),
      // boxes up to 0.3 x 0.2 degrees, a few tiles each at zoom 12
      "boxes" -> gen(
        s"${u("1")} * 350 - 175 as lo0", s"${u("2")} * 160 - 80 as la0",
        s"${u("1")} * 350 - 175 + ${u("3")} * 0.3 as lo1",
        s"${u("2")} * 160 - 80 + ${u("4")} * 0.2 as la1"))
  }

  private def nsPerRow(df: DataFrame, c: Column, rows: Int): Double =
    Main.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      Main.noop(df.select(c.as("k")))
      (System.nanoTime() - t0).toDouble / rows
    })

  def run(spark: SparkSession, rows: Int, seed: Long): Seq[Json.Obj] = {
    val in = inputs(spark, rows, seed)
    try kernels.map { k =>
      val df = in(k.input)
      val mismatches = df.select(k.native.as("k"), k.hof.as("h"))
        .where(not(col("k") <=> col("h"))).count()
      Json.Obj("name" -> k.name, "rows" -> rows, "mismatches" -> mismatches,
        "ns_per_row" -> nsPerRow(df, k.native, rows),
        "hof_ns_per_row" -> nsPerRow(df, k.hof, rows))
    } finally in.values.foreach(_.unpersist())
  }
}
