package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.Index

/** `ingest`: the write path, with a read after every write. Set-up
  * bulk-indexes a key-banded lake of 32 files into an empty store. Each step
  * then writes one new seeded data file (100 fresh customer keys plus rows
  * of existing customers), makes it queryable with `addFile` + `update()`,
  * and probes one fresh key with `Index.query` — the probe reads an index
  * the update just changed, and must find exactly the rows just written.
  * Every 4th step also de-registers the oldest lake file (`deleteFiles`)
  * and runs `compact()`. The data file writes are the benchmark's, not
  * the program's, and stay outside every timing. */
final class Ingest(h: Harness) extends Workload {
  private val Bands = 32
  private val RowsPerBand = 10000L
  private val CustomersPerBand = 1000L
  private val InitRows = Bands * RowsPerBand
  private val Customers = Bands * CustomersPerBand
  private val StepRows = 10000L
  private val FreshKeys = 100L
  private val RowsPerFreshKey = 10L
  private val DeleteEvery = 4

  private val gen = new Orders(h.spark, h.seed)
  private var idx: Index = _
  private val registered = mutable.LinkedHashMap.empty[String, Long] // path -> bytes
  private val oldest = mutable.Queue.empty[String]
  private val buildS = mutable.ArrayBuffer.empty[Double]
  private var seen = Set.empty[String]
  private var storeWritten = 0L
  private var ingested = 0L
  private var steps = 0 // across phases: keys and ids never repeat

  private def storeFiles: Map[String, Long] = Orders.storeFiles(h.spark, idx.name)

  private var files: Seq[String] = Nil

  def generate(): Unit =
    files = gen.banded(s"${h.dir}/ing_lake", Bands, RowsPerBand, CustomersPerBand)

  def setup(rep: Int): Unit = {
    idx = Index(h.spark, s"ing_idx_$rep", h.spark.read.parquet(files.head).schema, "parquet")
    idx.addIndex("o_custkey")
    idx.addRangeIndex("o_orderkey")
    val t0 = System.nanoTime()
    idx.addFile(files: _*)
    idx.update()
    buildS += (System.nanoTime() - t0) / 1e9
    registered.clear()
    files.foreach(f => registered(f) = new File(f).length())
    oldest.clear()
    oldest ++= files
    // warm-up: the read path on a key of the initial lake
    val key = gen.custShift + 1 + Customers / 2
    h.op("fresh_probe")(Orders.answer(idx.query(Map("o_custkey" -> Seq(key)))))
  }

  override def prepare(): Unit = seen = storeFiles.keySet

  /** Store bytes written since the last call: files that were not there. */
  private def trackStore(): Unit = {
    val now = storeFiles
    storeWritten += now.collect { case (p, n) if !seen.contains(p) => n }.sum
    seen = now.keySet
  }

  def step(loopIndex: Int): Unit = {
    val i = steps
    steps += 1
    val ids = InitRows + i * StepRows
    val freshBase = gen.custShift + Customers + 1 + i * FreshKeys
    val fresh = FreshKeys * RowsPerFreshKey
    val custKey = when(col("id") - lit(ids) < fresh,
        lit(freshBase) + (col("id") - lit(ids)) / RowsPerFreshKey)
      .otherwise(gen.randomCustomer(Customers, 1000 + i))
    val file = gen.writeOne(gen.rows(ids, ids + StepRows, custKey), s"${h.dir}/ing_step_$i")
    val bytes = new File(file).length()

    val (up, _) = h.op("update") {
      h.tracer.span("store.addFile")(idx.addFile(file))
      h.tracer.span("IndexBuild")(idx.update())
    }
    if (up.ok) {
      registered(file) = bytes
      ingested += bytes
    }
    trackStore()

    // the first fresh key holds ids [ids, ids + RowsPerFreshKey)
    val n = RowsPerFreshKey
    val want = (n, n * (gen.orderShift + 1) + 4 * (n * ids + n * (n - 1) / 2))
    val (probe, got) = h.op("fresh_probe") {
      val df = h.tracer.span("IndexProbe")(idx.query(Map("o_custkey" -> Seq(freshBase))))
      (df, h.tracer.span("FileReader")(Orders.answer(df)))
    }
    probe.extra("cold") = 1
    got.foreach { case (df, g) =>
      val located = df.inputFiles.map(Orders.norm).toSet
      probe.extra("files_located") = located.size
      probe.extra("files_holding") = if (located.contains(Orders.norm(file))) 1 else 0
      h.check(probe, g == want, s"fresh probe: got $g, wrote $want")
    }

    if ((i + 1) % DeleteEvery == 0 && oldest.nonEmpty) {
      val victim = oldest.dequeue()
      val (del, _) = h.op("delete_compact") {
        h.tracer.span("store.deleteFiles")(idx.deleteFiles(victim))
        h.tracer.span("store.compact")(idx.compact())
      }
      if (del.ok) registered.remove(victim)
      trackStore()
    }
  }

  override def extras: Map[String, Any] = {
    val store = storeFiles
    Map("build_s" -> buildS.toSeq, "store_bytes" -> store.values.sum,
      "store_files" -> store.size, "store_written_bytes" -> storeWritten,
      "data_ingested_bytes" -> ingested, "registered_bytes" -> registered.values.sum)
  }
}
