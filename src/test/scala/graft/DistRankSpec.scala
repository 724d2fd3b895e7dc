package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.queries.DistRank

/** Bit-equality proof for the distributed-rank device (VERDICT r14
  * #2): every primitive must reproduce its single-partition window
  * form EXACTLY on randomized data — heavy ties, negative keys,
  * empty/non-empty partition lists, Long and Double key types — so
  * the ten migrated rank-statistic gates keep their DuckDB oracle
  * rows bit-identically while the plan loses its global sort.
  */
class DistRankSpec extends SparkSpec {
  import spark.implicits._

  // deterministic pseudo-random rows: heavy ties via small modulus
  private def longRows(n: Int, groups: Int, mod: Int): DataFrame =
    spark.range(n.toLong).select(
      concat(lit("g"), (col("id") % groups).cast(StringType)).as("g"),
      pmod(xxhash64(col("id")), lit(mod.toLong)).minus(lit(mod / 2L)).as("v"),
      pmod(xxhash64(col("id"), lit(7)), lit(5L)).as("w"),
      col("id").as("rid"))

  private def doubleRows(n: Int, mod: Int): DataFrame =
    spark.range(n.toLong).select(
      lit("all").as("g"),
      (pmod(xxhash64(col("id")), lit(mod.toLong)).cast(DoubleType) / 7.0
        - lit(3.0)).as("v"),
      pmod(xxhash64(col("id"), lit(7)), lit(5L)).as("w"),
      col("id").as("rid"))

  private def assertSame(a: DataFrame, b: DataFrame, keys: Seq[String]): Unit = {
    val cols = a.columns.sorted.map(col).toSeq
    val left = a.select(cols: _*).orderBy(keys.map(col): _*).collect()
    val right = b.select(cols: _*).orderBy(keys.map(col): _*).collect()
    assert(left.length === right.length)
    left.zip(right).foreach { case (x, y) => assert(x === y) }
  }

  test("prefixLt == windowed exclusive prefix (Long keys, partitioned)") {
    val hist = longRows(5000, 3, 40)
      .groupBy("g", "v").agg(count(lit(1)).as("eq"), sum("w").as("ws"))
    val device = DistRank.prefixLt(hist, Seq("g"), "v", Seq("eq", "ws"))
    val w = Window.partitionBy(col("g")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val window = hist
      .withColumn("eq_lt", coalesce(sum(col("eq")).over(w), lit(0L)))
      .withColumn("ws_lt", coalesce(sum(col("ws")).over(w), lit(0L)))
    assertSame(device, window, Seq("g", "v"))
  }

  test("prefixLt == windowed exclusive prefix (no partitions, wide range)") {
    val hist = longRows(5000, 1, 1000000)
      .groupBy("v").agg(count(lit(1)).as("eq"))
    val device = DistRank.prefixLt(hist, Nil, "v", Seq("eq"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val window = hist
      .withColumn("eq_lt", coalesce(sum(col("eq")).over(w), lit(0L)))
    assertSame(device, window, Seq("v"))
  }

  test("midrank2 r2 == 2*rank + count_ties - 1 (Double keys)") {
    val rows = doubleRows(4000, 150)
    val device = DistRank.midrank2(rows, Nil, "v",
      Seq("wpos" -> sum(when(col("w") >= 2, 1L).otherwise(0L))))
    val w2 = (lit(2) * rank().over(Window.orderBy(col("v")))
      + count(lit(1)).over(Window.partitionBy(col("v"))) - 1).cast(LongType)
    val window = rows.withColumn("r2w", w2)
      .groupBy("v").agg(count(lit(1)).as("eq"),
        sum(when(col("w") >= 2, 1L).otherwise(0L)).as("wpos"),
        min(col("r2w")).as("r2"))
    assertSame(device.select("v", "eq", "wpos", "r2"),
      window.select("v", "eq", "wpos", "r2"), Seq("v"))
  }

  test("rowNumber == row_number window (desc key + tiebreak)") {
    val rows = longRows(3000, 2, 25)
    val device = DistRank.rowNumber(rows, Seq("g"), "v", desc = true,
      Seq("rid"), "rn")
    val window = rows.withColumn("rn",
      row_number().over(Window.partitionBy(col("g"))
        .orderBy(col("v").desc, col("rid"))).cast(LongType))
    assertSame(device.select("g", "rid", "rn"),
      window.select("g", "rid", "rn"), Seq("g", "rid"))
  }

  test("ntileOf == ntile window, all remainders") {
    // n = 37, 40, 43 exercise n mod 10 in {7, 0, 3}
    Seq(37, 40, 43).foreach { n =>
      val rows = spark.range(n.toLong).select(col("id").as("rid"),
        pmod(xxhash64(col("id")), lit(9L)).as("v"))
      val ranked = DistRank.rowNumber(rows, Nil, "v", desc = false,
        Seq("rid"), "rn")
      val device = ranked.crossJoin(
          broadcast(rows.agg(count(lit(1)).as("n"))))
        .withColumn("tile", DistRank.ntileOf(col("rn"), col("n"), 10))
      val window = rows.withColumn("tile",
        ntile(10).over(Window.orderBy(col("v"), col("rid"))).cast(LongType))
      assertSame(device.select("rid", "tile"),
        window.select("rid", "tile"), Seq("rid"))
    }
  }

  test("tileBounds intervals partition [1, n] and match ntile block sizes") {
    val sizes = Seq((37L, "a"), (40L, "b"), (43L, "c"), (7L, "d"))
      .toDF("n", "g")
    val tb = DistRank.tileBounds(sizes, "n", 10).collect()
    tb.groupBy(_.getAs[String]("g")).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("tile"))
      val n = sorted.head.getAs[Long]("n")
      assert(sorted.head.getAs[Long]("tile_lo") === 1L)
      assert(sorted.last.getAs[Long]("tile_hi") === n)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getAs[Long]("tile_lo") === a.getAs[Long]("tile_hi") + 1)
        case _ =>
      }
      // SQL ntile: first n mod k tiles hold ceil(n/k), rest floor(n/k)
      val q = n / 10; val r = n % 10
      sorted.foreach { row =>
        val size = row.getAs[Long]("tile_hi") - row.getAs[Long]("tile_lo") + 1
        val expect = if (row.getAs[Long]("tile") <= r) q + 1 else q
        assert(size === expect, s"n=$n tile=${row.getAs[Long]("tile")}")
      }
    }
  }
}
