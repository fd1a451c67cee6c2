package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator of TPC-H-orders-shaped rows. Every column is a hash of
  * (seed, row id), so the same seed gives the same files. Keys are shifted
  * by a seed-dependent offset, as `graft.tools.GenScale` shifts copies. */
final class Orders(spark: SparkSession, seed: Long) {
  val custShift: Long = (seed % 1000) * 1000003L
  val orderShift: Long = (seed % 1000) * 100000007L

  private val words = Seq("quick", "final", "ironic", "pending", "bold", "furious",
    "regular", "express", "careful", "silent", "even", "blithe", "special", "slyly",
    "deposits", "requests", "accounts", "packages", "theodolites", "foxes", "pinto",
    "beans", "instructions", "dependencies", "excuses", "platelets", "asymptotes",
    "courts", "dolphins", "multipliers", "sauternes", "warthogs", "frets", "dinos",
    "attainments", "somas", "tithes", "braids", "hockey", "players", "sheaves",
    "wake", "sleep", "nag", "haggle", "cajole", "boost", "detect")

  // 256 fixed six-word comments: one pick per row keeps the generated
  // expression small (its code generation is paid cold in every run)
  private val comments = {
    val r = new scala.util.Random(17)
    Seq.fill(256)(Seq.fill(6)(words(r.nextInt(words.size))).mkString(" "))
  }

  private def hashOf(salt: Int): Column = xxhash64(col("id"), lit(seed), lit(salt))
  private def pick(values: Seq[String], salt: Int): Column =
    element_at(array(values.map(lit): _*),
      (pmod(hashOf(salt), lit(values.size.toLong)) + 1).cast("int"))

  /** A uniform customer key in `[custShift + 1, custShift + customers]`. */
  def randomCustomer(customers: Long, salt: Int): Column =
    pmod(hashOf(salt), lit(customers)) + lit(custShift + 1)

  /** One row per id in `[start, end)` over `partitions` partitions;
    * `custKey` is an expression of `id`. `o_orderkey = orderShift + 4 * id
    * + 1`, unique across calls that use disjoint id ranges. */
  def rows(start: Long, end: Long, custKey: Column, partitions: Int = 1): DataFrame =
    spark.range(start, end, 1, partitions).select(
      (lit(orderShift + 1) + col("id") * 4).as("o_orderkey"),
      custKey.cast("long").as("o_custkey"),
      pick(Seq("O", "F", "P"), 1).as("o_orderstatus"),
      (pmod(hashOf(2), lit(50000000L)) / 100.0).as("o_totalprice"),
      date_add(lit("1992-01-01").cast("date"), pmod(hashOf(3), lit(2400L)).cast("int"))
        .as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), 4)
        .as("o_orderpriority"),
      concat(lit("Clerk#"), lpad(pmod(hashOf(5), lit(1000L)).cast("string"), 9, "0"))
        .as("o_clerk"),
      lit(0).as("o_shippriority"),
      pick(comments, 6).as("o_comment"))

  /** A key-banded lake, as the test lake splits its tables: `bands` parquet
    * files of `rowsPerBand` rows, file b holding only the customers
    * `custShift + b * customersPerBand + [1, customersPerBand]`. Each band
    * is one partition of the generating range, so no shuffle is needed.
    * Returns the file paths in band order. */
  def banded(dir: String, bands: Int, rowsPerBand: Long, customersPerBand: Long): Seq[String] = {
    val band = floor(col("id") / rowsPerBand).cast("long")
    rows(0, bands * rowsPerBand,
      band * customersPerBand + pmod(hashOf(0), lit(customersPerBand)) + lit(custShift + 1),
      bands).write.parquet(dir)
    val parts = Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .map(_.getAbsolutePath).sorted
    require(parts.length == bands, s"expected $bands part files in $dir, found ${parts.length}")
    parts.toSeq
  }

  /** Write `df` as one parquet file under `dir`; returns its path. */
  def writeOne(df: DataFrame, dir: String): String = {
    df.coalesce(1).write.parquet(dir)
    Orders.onlyPart(new File(dir))
  }
}

object Orders {
  def onlyPart(dir: File): String = {
    val parts = Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    require(parts.length == 1, s"expected one part file in $dir, found ${parts.length}")
    parts.head.getAbsolutePath
  }

  /** A file path or `file:` URI as a plain absolute path. */
  def norm(p: String): String =
    if (p.startsWith("file:")) new File(new java.net.URI(p)).getAbsolutePath
    else new File(p).getAbsolutePath

  /** (count, sum of o_orderkey) — the checked answer of every read op. */
  def answer(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(col("o_orderkey")), lit(0L))).first()
    (r.getLong(0), r.getLong(1))
  }

  /** Files of one index's store (its tables and its file list) with sizes. */
  def storeFiles(spark: SparkSession, index: String): Map[String, Long] = {
    val root = spark.conf.get("spark.graft.storagePath")
    walk(new File(s"$root/indexes/$index")) ++ walk(new File(s"$root/filelists/$index"))
  }

  /** Files under `dir` (recursive) with their sizes. */
  def walk(dir: File): Map[String, Long] =
    Option(dir.listFiles()).getOrElse(Array.empty[File]).toSeq.flatMap { f =>
      if (f.isDirectory) walk(f) else Seq(f.getAbsolutePath -> f.length())
    }.toMap
}
