package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

/** The benchmark's engine side: one JVM, one client, closed loop.
  *
  *   perfbench.Harness --workload olap|llm_dedup|dml_mix --data DIR
  *     --out DIR --seconds S --trace 0|1 --cores N --seed N
  *
  * Sets the workload up (session, tables, warm pass), then drives it
  * through the engine's public entry points until `--seconds` have
  * passed, finishing the unit of work in flight (a query pass, a dedup
  * round, a DML round). With `--trace 1` a second, traced window of the
  * same length follows in the same process, so the traced-minus-
  * untraced difference is the tracing overhead (the second window runs
  * on a warmer JVM, which biases that difference down). After the
  * timer stops it digests every result, dumps what the DuckDB checker
  * needs and writes `run.json` (set-up phases, per-window samples and
  * heap, and when traced the spans and per-layer counters). Statistics and the
  * correctness verdict are computed by `perfbench/run.py`. */
object Harness {
  final case class Opts(workload: String, data: String, out: Path,
      seconds: Double, traced: Boolean, cores: String, seed: Long)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val o = Opts(a("workload"), a("data"), Paths.get(a("out")), a("seconds").toDouble,
      a.getOrElse("trace", "0") == "1", a.getOrElse("cores", "4"),
      a.getOrElse("seed", "0").toLong)
    val w: Workload = o.workload match {
      case "olap" => new Olap(o.data, o.seed)
      case "llm_dedup" => new LlmDedup(o.data)
      case "dml_mix" => new DmlMix(o.data, o.out)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // ---- set-up
    val setup = mutable.LinkedHashMap.empty[String, Double]
    val t0 = System.nanoTime()
    val spark = Phase.time(setup, "session")(graft.GraftSession.get(o.cores))
    w.setup(spark, setup)
    setup("total") = (System.nanoTime() - t0) / 1e9

    // ---- timed windows: untraced, then (with --trace 1) traced
    def window(rec: Recorder): Map[String, Any] = {
      val u0 = w.units.size
      val start = Recorder.now
      HeapWatch.start()
      w.run(spark, rec, start + (o.seconds * 1e9).toLong)
      val end = Recorder.now
      Map("traced" -> rec.traced, "start_ns" -> start, "end_ns" -> end,
        "seconds" -> (end - start) / 1e9, "heap_peak_mb" -> HeapWatch.stop(),
        "gc" -> HeapWatch.collections,
        "ops" -> rec.ops.map(s => Map("id" -> s.id, "cls" -> s.cls, "name" -> s.name,
          "start_ns" -> s.startNs, "s" -> s.seconds, "error" -> s.error)),
        "units" -> w.units.drop(u0).map { case (n, t0, t1) => Map("name" -> n, "s" -> (t1 - t0) / 1e9) })
    }
    val plain = new Recorder(false)
    val windows = mutable.ArrayBuffer(window(plain))
    val trace = if (o.traced) Some(SparkTrace.install(spark)) else None
    val rec = if (o.traced) new Recorder(true) else plain
    if (o.traced) windows += window(rec)

    // ---- after the timer: results, checks, layer counters
    val extra = w.finish(spark, rec, o.out)
    trace.foreach(_ => SparkTrace.drain(spark))
    val layers = trace.map(t => Layers.compute(t, rec, o.cores.toInt)).getOrElse(Map.empty)
    val sc = spark.sparkContext
    val record = Map(
      "workload" -> o.workload,
      "cores" -> o.cores.toInt,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "spark_version" -> spark.version,
      "setup" -> setup,
      "windows" -> windows,
      "extra" -> extra,
      "layers" -> layers)
    Json.write(o.out.resolve("run.json"), Json.value(record))
    if (o.traced) Files.write(o.out.resolve("spans.jsonl"),
      rec.spans.map(s => Json.value(Map("id" -> s.id, "op" -> s.op, "parent" -> s.parent,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs))).asJava)
    sc.stop()
  }
}

/** A workload: set-up phases, the timed closed loop, and the
  * after-window step that dumps results for the checker. */
trait Workload {
  /** Completed units of work (name, start ns, end ns). */
  val units = mutable.ArrayBuffer.empty[(String, Long, Long)]
  def setup(spark: SparkSession, phases: mutable.Map[String, Double]): Unit
  def run(spark: SparkSession, rec: Recorder, deadline: Long): Unit
  def finish(spark: SparkSession, rec: Recorder, out: Path): Map[String, Any]

  protected def unit(name: String)(body: => Unit): Unit = {
    val t0 = Recorder.now
    body
    units += ((name, t0, Recorder.now))
    HeapWatch.mark()
  }
}

object Phase {
  def time[A](phases: mutable.Map[String, Double], name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally phases(name) = phases.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }
}

/** Order-insensitive digest of a result (md5 over the sorted cells),
  * and its dump for the checker. */
object Results {
  def digest(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(r => Json.cell(r)).sorted.foreach { s =>
      md.update(s.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  def dump(path: Path, schema: org.apache.spark.sql.types.StructType, rows: Seq[Row]): Unit =
    Json.write(path, Json.rows(schema.fields.map(f => f.name -> f.dataType.simpleString).toSeq, rows))
}

/** Heap in use after full collections at the end of each unit of work
  * (`mark`), highest over the timed window. Two collections with a
  * pause between them, so Spark's context cleaner has released the
  * broadcasts and shuffles the first one found unreachable: a reading
  * after a young collection depends on when the collector last
  * reclaimed the old generation, not on the workload. */
object HeapWatch {
  @volatile private var on = false
  @volatile private var peak = 0L
  @volatile var collections = 0

  def start(): Unit = { peak = 0L; collections = 0; on = true }

  def mark(): Unit = if (on) {
    System.gc()
    Thread.sleep(300)
    System.gc()
    collections += 1
    peak = math.max(peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  /** Stops watching and returns the peak in MB. */
  def stop(): Double = { on = false; peak / 1048576.0 }
}
