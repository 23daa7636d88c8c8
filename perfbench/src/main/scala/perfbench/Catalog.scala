package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.{QueryPack, SparkEntry}
import graft.operators._

/** The catalog workload: graft's declared queries, each called through its
  * pack's public `queries` map and run to a full result with `collect()`,
  * which evaluates every output column and the final ordering. */
object Catalog {
  /** Every pack belongs to exactly one group; together they hold all
    * declared queries. */
  val groups: Seq[(String, Seq[QueryPack])] = Seq(
    "sql" -> Seq(Relational, EventQueries, ExtrasQueries, MaintenanceQueries, TextQueries),
    "llm" -> Seq(DedupQueries, SimilarityQueries, PqQueries, IvfPqQueries, TextAnalysis,
                 TextModelQueries, PipelineQueries, CrawlQueries),
    "ingest" -> Seq(SourceQueries, MultimodalQueries, StreamingQueries))

  type Q = (SparkSession, String) => DataFrame
  type Result = (StructType, Array[Row])

  lazy val all: Map[String, (String, Q)] = {
    val named = for ((g, packs) <- groups; p <- packs; (n, q) <- p.queries) yield n -> (g, q)
    require(named.map(_._1).toSet == SparkEntry.queries.keySet,
      "the benchmark's groups must hold exactly the declared queries")
    named.toMap
  }

  final case class Exec(name: String, group: String, pass: Int, traced: Boolean, wall: Double,
                        construct: Double, plan: Double, execute: Double, rows: Int,
                        digest: String, error: Option[String]) {
    def toMap: Map[String, Any] = Map("name" -> name, "group" -> group, "pass" -> pass,
      "traced" -> traced, "wall_s" -> wall, "construct_s" -> construct, "plan_s" -> plan,
      "execute_s" -> execute, "rows" -> rows, "digest" -> digest, "error" -> error)
  }

  /** A stable digest of a result, binary values and nesting included. */
  def digest(rows: Array[Row]): String = {
    def deep(v: Any): String = v match {
      case null => "\u0000"
      case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
      case r: Row => r.toSeq.map(deep).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => deep(k) + "->" + deep(x) }
        .sorted.mkString("{", ",", "}")
      case s: Iterable[_] => s.map(deep).mkString("[", ",", "]")
      case x => x.toString
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update((deep(r) + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Runs one pass over `names` in the seeded order of `pass`. Each
    * query's wall is split into construction (the pack's query function,
    * with its eager driver jobs, staging and index fits), planning (only
    * when traced: `executedPlan` of the constructed frame) and execution
    * (`collect()`). Failures are caught and recorded with their cause. */
  def pass(spark: SparkSession, dir: String, names: Seq[String], seed: Long, pass: Int,
           traced: Boolean, keep: mutable.Map[String, Result])
      : (Seq[Exec], Seq[OpWindow]) = {
    val order = new scala.util.Random(seed * 1000003L + pass).shuffle(names)
    val execs = ArrayBuffer[Exec]()
    val windows = ArrayBuffer[OpWindow]()
    for (name <- order) {
      val (group, q) = all(name)
      val t0 = System.nanoTime()
      var t1, t2, t3 = t0
      var result: Option[Result] = None
      val error = try {
        val df = q(spark, dir)
        t1 = System.nanoTime()
        if (traced) df.queryExecution.executedPlan
        t2 = System.nanoTime()
        val rows = df.collect()
        t3 = System.nanoTime()
        result = Some((df.schema, rows))
        None
      } catch {
        case e: Throwable =>
          t3 = System.nanoTime()
          Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}")
      }
      if (t1 == t0) t1 = t3
      if (t2 == t0) t2 = t1
      val trace = s"p$pass/$name"
      windows += OpWindow(trace, name, t0, t3,
        Seq(("construct", t0, t1), ("plan", t1, t2), ("execute", t2, t3)))
      execs += Exec(name, group, pass, traced, (t3 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
        (t3 - t2) / 1e9, result.fold(0)(_._2.length), result.fold("")(r => digest(r._2)), error)
      result.foreach(r => keep.put(name, r))
    }
    (execs.toSeq, windows.toSeq)
  }

  /** Writes each kept result as parquet under `out/<name>` and the oracle
    * SQL of those queries, rendered for `dir`, to `out/oracle_sql.json`. */
  def dump(spark: SparkSession, dir: String, out: String,
           kept: collection.Map[String, Result]): Unit = {
    new java.io.File(out).mkdirs()
    for ((name, (schema, rows)) <- kept)
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
    val oracle = SparkEntry.oracleSqlFor(dir).filter(kv => kept.contains(kv._1))
    Json.write(s"$out/oracle_sql.json", oracle)
  }
}
