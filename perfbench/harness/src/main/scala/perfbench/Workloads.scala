package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.Dedup

/** `olap`: the DBT-3 entries (with the `_true_` partsupp variants) and
  * the SSB entries of `SparkEntry.queries`, each result collected to
  * the client. Passes run in a seeded order; the window ends with the
  * pass in flight. */
final class Olap(data: String, seed: Long) extends Workload {
  private val dir = s"$data/star"
  val names: Seq[String] = Olap.names
  private val results = mutable.Map.empty[String, mutable.ArrayBuffer[Array[Row]]]
  private val schemas = mutable.Map.empty[String, org.apache.spark.sql.types.StructType]

  def order(pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(names)

  def setup(spark: SparkSession, phases: mutable.Map[String, Double]): Unit = {
    Phase.time(phases, "tables")(graft.Tables.registerAll(spark, dir))
    Phase.time(phases, "warm")(names.foreach(n => graft.SparkEntry.queries(n)(spark, dir).collect()))
  }

  private var pass = 0

  def run(spark: SparkSession, rec: Recorder, deadline: Long): Unit = {
    while (Recorder.now < deadline) {
      unit("pass") {
        order(pass).foreach { n =>
          rec.op("query", n, spark.sparkContext) {
            val df = rec.span("queries.build")(graft.SparkEntry.queries(n)(spark, dir))
            val rows = rec.span("queries.collect")(df.collect())
            schemas.getOrElseUpdate(n, df.schema)
            results.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += rows
          }
        }
      }
      pass += 1
    }
  }

  def finish(spark: SparkSession, rec: Recorder, out: Path): Map[String, Any] = {
    val oracles = graft.queries.Dbt3Queries.oracle ++ graft.queries.CoreQueries.oracle ++
      graft.queries.PartsuppQueries.oracle ++ graft.queries.SsbQueries.oracle
    val checks = results.toSeq.sortBy(_._1).map { case (n, runs) =>
      Results.dump(out.resolve(s"results/$n.json"), schemas(n), runs.head.toSeq)
      n -> Map("oracle" -> oracles(n), "digests" -> runs.map(r => Results.digest(r.toSeq)).toSeq)
    }
    Json.write(out.resolve("olap_order.txt"),
      (0 until units.size).map(p => order(p).mkString(",")).mkString("\n"))
    Map("checks" -> checks.toMap, "passes" -> units.size)
  }
}

object Olap {
  def names: Seq[String] =
    (graft.queries.Dbt3Queries.queries.keys ++ graft.queries.PartsuppQueries.queries.keys ++
      Seq("q1_agg", "q3_shipping", "q5_region", "q6_forecast", "q10_returns") ++
      graft.queries.SsbQueries.queries.keys).toSeq.sorted
}

/** `llm_dedup`: the `llm.Dedup` pipeline over a seeded corpus, run
  * through the oracle-backed `SparkEntry` entries in pipeline order
  * (each calls one Dedup function with the arguments its DuckDB oracle
  * checks), then incremental `Dedup.dedupAgainst` batches with the
  * arguments of `q_dedup_incremental`. One round = one pipeline pass +
  * `batchesPerRound` batches. */
final class LlmDedup(data: String) extends Workload {
  private val dir = s"$data/docs"
  private val batchFiles = Files.list(Paths.get(data, "batches")).iterator.asScala
    .map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted
  private val batchesPerRound = 4
  /** (Dedup function, the entry that calls it) in pipeline order. */
  private val stages = Seq(
    "exactGroups" -> "q_dedup_exact", "minhashDupPairs" -> "q_dedup_minhash",
    "jaccardDupPairs" -> "q_dedup_jaccard", "bandedHashPairs" -> "q_dedup_simhash",
    "dupClusters" -> "q_dedup_clusters", "nearDedupBest" -> "q_dedup_keepbest")
  private var corpus: DataFrame = _
  /** stage or batch -> (schema, result of every execution) */
  private val results = mutable.LinkedHashMap.empty[String,
    (org.apache.spark.sql.types.StructType, mutable.ArrayBuffer[Array[Row]])]

  def setup(spark: SparkSession, phases: mutable.Map[String, Double]): Unit = {
    corpus = Phase.time(phases, "tables")(graft.Tables.t(spark, dir, "documents"))
    Phase.time(phases, "warm") {
      val warm = new Recorder(false)
      pass(spark, warm)
      batch(spark, warm, 0)
      results.clear()
    }
  }

  private def keep(key: String, df: DataFrame, rows: Array[Row]): Unit =
    results.getOrElseUpdate(key, (df.schema, mutable.ArrayBuffer.empty))._2 += rows

  private def pass(spark: SparkSession, rec: Recorder): Unit =
    stages.foreach { case (fn, entry) =>
      rec.span(s"dedup.$fn") {
        val df = rec.span("queries.build")(graft.SparkEntry.queries(entry)(spark, dir))
        keep(fn, df, rec.span("queries.collect")(df.collect()))
      }
    }

  private def batch(spark: SparkSession, rec: Recorder, i: Int): Unit = rec.span("dedup.dedupAgainst") {
    val df = Dedup.dedupAgainst(spark.read.parquet(batchFiles(i)), corpus, threshold = 0.5)
      .select("doc_id", "lang", "source").orderBy("doc_id")
    keep(batchName(i), df, df.collect())
  }

  private def batchName(i: Int): String =
    Paths.get(batchFiles(i)).getFileName.toString.stripSuffix(".parquet")

  private var next = 0

  def run(spark: SparkSession, rec: Recorder, deadline: Long): Unit = {
    while (Recorder.now < deadline) unit("round") {
      rec.op("pass", "pipeline", spark.sparkContext)(pass(spark, rec))
      (0 until batchesPerRound).foreach { _ =>
        val i = next % batchFiles.size
        rec.op("batch", batchName(i), spark.sparkContext)(batch(spark, rec, i))
        next += 1
      }
    }
  }

  def finish(spark: SparkSession, rec: Recorder, out: Path): Map[String, Any] = {
    val digests = results.toSeq.map { case (key, (schema, runs)) =>
      Results.dump(out.resolve(s"results/$key.json"), schema, runs.head.toSeq)
      key -> runs.map(r => Results.digest(r.toSeq)).toSeq
    }.toMap
    // the dedup oracles share a map with ANN oracles that embed models
    // trained on the corpus directory's embeddings table
    sys.props("graft.oracle.sfDir") = dir
    val oracles = graft.queries.LlmQueries.oracle ++ graft.queries.PipelineQueries.oracle
    val counts: Map[String, Any] =
      if (rec.traced) Map("candidate_pairs" -> Dedup.jaccardCandidateCount(corpus, 0.5))
      else Map.empty
    Map("stages" -> stages.map { case (fn, entry) =>
        fn -> Map("oracle" -> oracles(entry), "digests" -> digests(fn)) }.toMap,
      "batches" -> digests.filter(_._1.startsWith("batch_")),
      "incremental_oracle" -> oracles("q_dedup_incremental"),
      "counts" -> counts, "rounds" -> units.size)
  }
}

/** `dml_mix`: one `dml.VersionedTable` over a projection of lineitem,
  * driven by the seeded op log: snapshot reads (SQL over `read()`),
  * copy-on-write insert/update/delete, and MERGE from a CSV batch
  * imported into a staging catalog table with `CsvImporter`; each round
  * opens with `optimize` and closes with `vacuum`. */
final class DmlMix(data: String, out: Path) extends Workload {
  private val dir = Paths.get(data, "dml")
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val log = Files.readAllLines(dir.resolve("oplog.jsonl")).asScala.map(mapper.readTree).toSeq
  private val rounds: Seq[Seq[com.fasterxml.jackson.databind.JsonNode]] = {
    val rs = mutable.ArrayBuffer.empty[Seq[com.fasterxml.jackson.databind.JsonNode]]
    var cur = mutable.ArrayBuffer.empty[com.fasterxml.jackson.databind.JsonNode]
    log.foreach { op =>
      cur += op
      if (op.get("op").asText == "vacuum") { rs += cur.toSeq; cur = mutable.ArrayBuffer.empty }
    }
    rs.toSeq
  }
  private var table: graft.dml.VersionedTable = _
  private var catalog: graft.sources.Catalog = _
  private var executed = 0
  private val reads = mutable.ArrayBuffer.empty[(Int, Array[Row], org.apache.spark.sql.types.StructType)]
  private val ingest = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val writeStats = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val liveFiles = mutable.ArrayBuffer.empty[Int]

  private val workDir: Path = out.resolve("dml_work")

  def setup(spark: SparkSession, phases: mutable.Map[String, Double]): Unit = {
    val base = Phase.time(phases, "tables") {
      catalog = new graft.sources.Catalog(workDir.resolve("warehouse").toString, spark)
      catalog.createTable("stage", DmlMix.Ddl)
      spark.read.parquet(dir.resolve("dml_base.parquet").toString)
    }
    Phase.time(phases, "warm") {
      // one op of each kind on a throwaway table, so the timed table
      // starts from the log's first state
      val t = graft.dml.VersionedTable.create(spark, workDir.resolve("warm").toString, base.limit(2000))
      val firstOf = log.groupBy(_.get("op").asText).map { case (k, v) => k -> v.head }
      Seq("read", "insert", "update", "delete", "merge", "optimize", "vacuum")
        .flatMap(firstOf.get).foreach(op => apply(spark, t, op, None))
    }
    table = Phase.time(phases, "table_create")(
      graft.dml.VersionedTable.create(spark, workDir.resolve("table").toString, base))
  }

  private def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  private def dataFiles(p: Path): Set[String] =
    if (!Files.exists(p)) Set.empty
    else Files.walk(p).iterator.asScala.map(_.toString).filter(_.endsWith(".parquet")).toSet

  /** Apply one logged op; `rec` is None for the warm-up. */
  private def apply(spark: SparkSession, t: graft.dml.VersionedTable,
      op: com.fasterxml.jackson.databind.JsonNode, rec: Option[Recorder]): Unit = {
    def span[A](name: String)(body: => A): A = rec.fold(body)(_.span(name)(body))
    op.get("op").asText match {
      case "read" =>
        span("dml.read") {
          val snap = t.read()
          if (rec.exists(_.traced)) liveFiles += snap.inputFiles.length
          snap.createOrReplaceTempView("snap")
          val df = spark.sql(op.get("sql").asText)
          val rows = df.collect()
          if (rec.nonEmpty) reads += ((executed, rows, df.schema))
        }
      case "insert" =>
        span("dml.insert")(t.insert(spark.read.parquet(dir.resolve(op.get("path").asText).toString)))
      case "update" =>
        val set = op.get("set").fields.asScala.map(e => e.getKey -> expr(e.getValue.asText)).toMap
        span("dml.update")(t.update(expr(op.get("cond").asText), set))
      case "delete" =>
        span("dml.delete")(t.delete(expr(op.get("cond").asText)))
      case "merge" =>
        val r = span("ingest.import")(graft.sources.CsvImporter.importCsv(spark, catalog, "stage",
          dir.resolve(op.get("path").asText).toString, mode = SaveMode.Overwrite))
        if (rec.nonEmpty) ingest += Map("op" -> executed, "rows" -> r.rowsLoaded,
          "rejected" -> r.rowsRejected, "expected_rows" -> (op.get("rows").asLong - op.get("rejected").asLong),
          "expected_rejected" -> op.get("rejected").asLong)
        span("dml.merge")(t.merge(catalog.load("stage"), "l_id"))
      case "optimize" => span("dml.optimize")(t.optimize(op.get("files").asInt))
      case "vacuum" => span("dml.vacuum")(t.vacuum(op.get("keep").asInt))
    }
  }

  private var round = 0

  def run(spark: SparkSession, rec: Recorder, deadline: Long): Unit = {
    val loc = Paths.get(new java.net.URI(table.location).getPath)
    while (Recorder.now < deadline && round < rounds.size) unit("round") {
      round += 1
      rounds(round - 1).foreach { op =>
        val kind = op.get("op").asText
        val cls = kind match {
          case "read" => "read"
          case "optimize" | "vacuum" => "maint"
          case _ => "write"
        }
        val before = if (rec.traced && cls == "write") dataFiles(loc) else Set.empty[String]
        rec.op(cls, kind, spark.sparkContext)(apply(spark, table, op, Some(rec)))
        if (rec.traced && cls == "write") {
          val added = dataFiles(loc) -- before
          writeStats += Map("op" -> executed, "kind" -> kind, "files" -> added.size,
            "bytes" -> added.toSeq.map(f => Files.size(Paths.get(f))).sum)
        }
        executed += 1
      }
    }
  }

  def finish(spark: SparkSession, rec: Recorder, out: Path): Map[String, Any] = {
    val loc = Paths.get(new java.net.URI(table.location).getPath)
    // the final vacuum closed the last round; compare the table's
    // footprint with the live snapshot written once, compacted
    val tableBytes = bytesUnder(loc)
    val snap = table.read()
    val compact = out.resolve("final_snapshot")
    snap.coalesce(1).write.mode("overwrite").parquet(compact.toString)
    val compactBytes = Files.list(compact).iterator.asScala
      .filter(_.toString.endsWith(".parquet")).map(Files.size).sum
    val logDir = loc.resolve("_graft_log")
    val versions = Files.list(logDir).iterator.asScala.count(_.toString.endsWith(".manifest"))
    reads.foreach { case (i, rows, schema) =>
      Results.dump(out.resolve(f"results/read_$i%05d.json"), schema, rows.toSeq) }
    Map("executed_ops" -> executed, "log_ops" -> log.size, "table_bytes" -> tableBytes,
      "compact_bytes" -> compactBytes, "space_amp" -> tableBytes.toDouble / compactBytes,
      "versions_retained" -> versions, "live_rows" -> snap.count(),
      "reads" -> reads.map(_._1).toSeq, "ingest" -> ingest.toSeq,
      "writes" -> writeStats.toSeq, "live_files" -> liveFiles.toSeq, "rounds" -> units.size)
  }
}

object DmlMix {
  val Ddl: String =
    "l_id BIGINT, l_orderkey BIGINT, l_partkey BIGINT, l_quantity DOUBLE, " +
      "l_extendedprice DOUBLE, l_discount DOUBLE, l_returnflag VARCHAR(1), " +
      "l_linestatus VARCHAR(1), l_shipdate DATE"
}
