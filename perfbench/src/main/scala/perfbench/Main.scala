package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One benchmark JVM. run.py starts it with `key=value` arguments:
  *
  *  - `workload=catalog|mr`;
  *  - `data=<fixture dir>` and `queries=<a,b,...>` (catalog) or
  *    `inputs=<dir,dir,...>` (mr);
  *  - `out=<dir>` for `result.json`, the results to check and the trace;
  *  - `seed`, `passes` (steady passes), `trace=0|1`, `cores`, and `t0ms`,
  *    the wall-clock time at which run.py started this JVM.
  *
  * The set-up pass is the first pass of the fresh JVM against an empty
  * staging directory; `setup_s` runs from `t0ms` to its end. The steady
  * passes follow. With `trace=1` they alternate untraced and traced; only
  * traced passes carry the benchmark's SparkListener. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val workload = a("workload")
    val out = a("out")
    val seed = a("seed").toLong
    val passCount = a("passes").toInt
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val tmp = System.getProperty("java.io.tmpdir")
    new java.io.File(out).mkdirs()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "spark" -> spark.version, "java" -> System.getProperty("java.version"),
      "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576)
    val passes = ArrayBuffer[mutable.LinkedHashMap[String, Any]]()
    val layers = ArrayBuffer[Map[String, Double]]()
    val ops = ArrayBuffer[Map[String, Any]]()
    val tracer = new Tracer
    val spans = new java.io.PrintWriter(s"$out/trace.jsonl")

    /** Runs pass `p` (traced or not) and records its wall and the
      * cross-query state it leaves behind. Nothing is unpersisted. The
      * pass wall is the sum of its operations' walls: the benchmark's own
      * work between them (result digests, file listing, writing results
      * out for the checks) is left out. */
    def runPass(p: Int, traced: Boolean)(body: => Seq[OpWindow]): Unit = {
      val before = sc.getPersistentRDDs.size
      if (traced) { tracer.reset(); sc.addSparkListener(tracer) }
      val windows = body
      val wall = windows.map(w => w.end - w.start).sum / 1e9
      if (traced) {
        org.apache.spark.PerfbenchBus.drain(sc)
        sc.removeSparkListener(tracer)
        val (m, ss) = tracer.aggregate(windows)
        layers += m
        ss.foreach(s => spans.println(Json.render(Map("pass" -> p, "id" -> s.id, "parent" -> s.parent,
          "trace" -> s.trace, "kind" -> s.kind, "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end))))
      }
      val persisted = sc.getPersistentRDDs.size
      passes += mutable.LinkedHashMap("pass" -> p, "traced" -> traced, "wall_s" -> wall,
        "persisted_rdds_new" -> (persisted - before), "persisted_rdds" -> persisted,
        "blocks_mb_after" -> sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0)
    }

    /** `passes` steady passes; at least three when traced, so a traced
      * pass sits between two untraced ones and warm-up does not bias the
      * overhead. */
    def steady(run: (Int, Boolean) => Unit): Unit =
      for (p <- 1 to math.max(passCount, if (trace) 3 else 2)) run(p, trace && p % 2 == 0)

    // One pass of the workload; pass 0 also keeps what the checks need.
    // `afterSetup` runs once, outside the timed passes.
    val (onePass, afterSetup): ((Int, Boolean) => Seq[OpWindow], () => Unit) = workload match {
      case "catalog" =>
        val dir = a("data")
        val names = a("queries") match {
          case g if g.startsWith("group:") =>
            Catalog.all.collect { case (n, (grp, _)) if grp == g.stripPrefix("group:") => n }.toSeq.sorted
          case list => list.split(",").toSeq.filter(_.nonEmpty)
        }
        val kept = mutable.LinkedHashMap[String, Catalog.Result]()
        ((p, traced) => {
          val (execs, w) = Catalog.pass(spark, dir, names, seed, p, traced,
            if (p == 0) kept else mutable.Map())
          ops ++= execs.map(_.toMap)
          w
        }, () => {
          val staged = walk(new java.io.File(graft.Stage.root(dir)))
          result("stage") = Map("files" -> staged.size, "bytes_mb" -> staged.map(_.length).sum / 1048576.0)
          Catalog.dump(spark, dir, s"$out/results", kept)
          kept.clear()
        })
      case "mr" =>
        val inputs = a("inputs").split(",").toSeq.filter(_.nonEmpty)
        ((p, traced) => {
          val (jobs, w) = Mr.pass(spark, inputs, seed, p, traced,
            if (p == 0) Some(s"$out/results") else None)
          ops ++= jobs.map(_.toMap)
          w
        }, () => result("stage") = Map("files" -> 0, "bytes_mb" -> 0.0))
    }
    runPass(0, traced = false)(onePass(0, false))
    result("setup_s") = (System.currentTimeMillis() - a("t0ms").toLong) / 1000.0
    afterSetup()
    steady((p, traced) => runPass(p, traced)(onePass(p, traced)))

    if (trace)
      result("decoders") = Decoders.run(seed, 0.2).map(d => Map("metric" -> d.metric,
        "mb_per_s" -> d.mbPerS, "bytes" -> d.bytes, "calls" -> d.calls, "ok" -> d.ok))
    spans.close()
    result("passes") = passes
    result("ops") = ops
    result("layers") = layers
    result("rss_peak_mb") = vmHwmMb()
    Json.write(s"$out/result.json", result)
    spark.stop()
  }

  private def walk(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
    else if (f.isFile) Seq(f) else Nil

  /** The JVM's peak resident set (VmHWM), in MB. */
  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}
