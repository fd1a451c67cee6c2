package perfbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.functions._

import graft.Index
import graft.catalog.GraftTable

/** `probe_join`: the read path. One index (regular on `o_custkey`, range
  * on `o_orderkey`) over an orders lake of 32 key-banded files. The op mix
  * repeats a fixed cycle of four kinds with seeded keys:
  *  - `join`: `Index.join` on 16 consecutive customer keys (1-2 files);
  *  - `scatter_join`: 256 keys spread over the whole lake (no pruning, so
  *    the index's own overhead shows);
  *  - `lookup`: `Index.query` on 2 keys;
  *  - `sql_join`: the `join` shape as SQL through `GraftCatalog` and
  *    `GraftJoinRule`.
  * Every op returns (count, sum of o_orderkey), checked against a plain
  * Spark full scan of the same files. */
final class ProbeJoin(h: Harness) extends Workload {
  import h.spark.implicits._

  private val Bands = 32
  private val RowsPerBand = 12500L // 400k rows
  private val CustomersPerBand = 1000L
  private val Cycle = Seq("join", "lookup", "join", "sql_join", "join", "lookup",
    "scatter_join", "sql_join")

  private val gen = new Orders(h.spark, h.seed)
  // reseeded at the start of each phase, so that the measured phase replays
  // the same key sequence for a seed however many warm-up ops ran
  private var rnd = new scala.util.Random(h.seed)
  private var rndPhase = ""
  private var idx: Index = _
  private var files: Seq[String] = Nil
  private var fileBytes: Map[String, Long] = Map.empty
  private var truth: Map[Long, (Long, Long, String)] = Map.empty // key -> (rows, sum, file)
  private var keys: Array[Long] = Array.empty
  private var storeBuilt = 0L // store bytes right after the build

  def generate(): Unit =
    files = gen.banded(s"${h.dir}/pj_lake", Bands, RowsPerBand, CustomersPerBand)

  def setup(rep: Int): Unit = {
    idx = Index(h.spark, s"pj_idx_$rep", h.spark.read.parquet(files.head).schema, "parquet")
    idx.addIndex("o_custkey")
    idx.addRangeIndex("o_orderkey")
    h.op("build") {
      h.tracer.span("store.addFile")(idx.addFile(files: _*))
      h.tracer.span("IndexBuild")(idx.update())
    }
    storeBuilt = Orders.storeFiles(h.spark, idx.name).values.sum
    // warm-up: one op of each code path (scatter_join shares join's). The
    // ground truth is not built yet, so these are checked for exceptions only
    // (the keys exist: each customer has ~12 orders)
    val base = gen.custShift + 1
    val local = (0L until 16L).map(base + Bands / 2 * CustomersPerBand + _)
    run("join", local)
    run("lookup", local.take(2))
    run("sql_join", local)
  }

  override def prepare(): Unit = {
    fileBytes = files.map(f => Orders.norm(f) -> new File(f).length()).toMap
    truth = h.spark.read.parquet(files: _*)
      .select(col("o_custkey"), col("o_orderkey"), input_file_name().as("file"))
      .groupBy("o_custkey")
      .agg(count(lit(1)), sum("o_orderkey"), first("file"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), Orders.norm(r.getString(3)))))
      .toMap
    keys = truth.keys.toArray.sorted
  }

  def step(i: Int): Unit = {
    if (h.phase != rndPhase) {
      rndPhase = h.phase
      rnd = new scala.util.Random(h.seed * 31 + h.phase.hashCode)
    }
    val kind = Cycle(i % Cycle.size)
    val ks = kind match {
      case "scatter_join" => rnd.shuffle(keys.toSeq).take(256)
      case "lookup"       => consecutive(2)
      case _              => consecutive(16)
    }
    run(kind, ks)
  }

  private def consecutive(n: Int): Seq[Long] = {
    val start = rnd.nextInt(keys.length - n)
    keys.slice(start, start + n).toSeq
  }

  private def run(kind: String, ks: Seq[Long]): Unit = {
    val probe = ks.toDF("o_custkey")
    if (kind == "sql_join") probe.createOrReplaceTempView("pb_probe")
    val (rec, out) = h.op(kind) {
      kind match {
        case "sql_join" =>
          val df = h.spark.sql(
            s"""SELECT count(1), coalesce(sum(o.o_orderkey), 0)
                FROM graft.${idx.name} o JOIN pb_probe p ON o.o_custkey = p.o_custkey""")
          h.tracer.span("catalog.plan")(df.queryExecution.optimizedPlan)
          val r = h.tracer.span("catalog.exec")(df.first())
          (df, (r.getLong(0), r.getLong(1)))
        case _ =>
          val df = h.tracer.span("IndexProbe") {
            if (kind == "lookup") idx.query(Map("o_custkey" -> ks))
            else idx.join(probe, Seq("o_custkey"))
          }
          (df, h.tracer.span("FileReader")(Orders.answer(df)))
      }
    }
    out.foreach { case (df, got) =>
      if (kind == "sql_join")
        rec.extra("rewritten") = if (hasGraftRelation(df.queryExecution.optimizedPlan)) 0 else 1
      else {
        val located = df.inputFiles.map(Orders.norm).toSet
        val holding = ks.flatMap(truth.get).map(_._3).toSet
        rec.extra("files_located") = located.size
        rec.extra("files_holding") = (located intersect holding).size
        rec.extra("located_bytes") = located.toSeq.map(fileBytes.getOrElse(_, 0L)).sum
        rec.extra("total_bytes") = fileBytes.values.sum
        h.check(rec, holding.subsetOf(located), s"$kind: a file holding a probed key was pruned")
      }
      if (truth.nonEmpty) {
        val want = ks.flatMap(truth.get).foldLeft((0L, 0L)) { case ((n, s), t) =>
          (n + t._1, s + t._2) }
        h.check(rec, got == want, s"$kind: got $got, full scan says $want")
      }
    }
  }

  private def hasGraftRelation(plan: LogicalPlan): Boolean = plan.find {
    case r: DataSourceV2Relation     => r.table.isInstanceOf[GraftTable]
    case r: DataSourceV2ScanRelation => r.relation.table.isInstanceOf[GraftTable]
    case _                           => false
  }.isDefined

  override def extras: Map[String, Any] = {
    val store = Orders.storeFiles(h.spark, idx.name)
    Map("store_bytes" -> store.values.sum,
      "store_files" -> store.size, "store_written_bytes" -> storeBuilt,
      "data_ingested_bytes" -> fileBytes.values.sum, "registered_bytes" -> fileBytes.values.sum)
  }
}
