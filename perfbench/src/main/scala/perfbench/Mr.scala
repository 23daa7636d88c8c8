package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.mr.{FileWordCounter, MapReduceJob}
import graft.sources.FileSources

/** The reference program: word count with `FileWordCounter.client`, started
  * with `MapReduceJob.startJob` over files read by `FileSources`' whole-file
  * reader, polled through `getJobState` and joined with `waitForJob`. */
object Mr {
  final case class Job(input: String, pass: Int, traced: Boolean, wall: Double, bytes: Long,
                       phases: Seq[(String, Double)], states: Int, words: Int,
                       digest: String, error: Option[String]) {
    def toMap: Map[String, Any] = Map("name" -> input, "pass" -> pass, "traced" -> traced,
      "wall_s" -> wall, "bytes" -> bytes, "phases" -> phases.toMap, "progress_states" -> states,
      "words" -> words, "digest" -> digest, "error" -> error)
  }

  /** The digest run.py recomputes from the generator's histogram: MD5 of
    * the `word\tcount\n` lines in word order (the generated words are
    * ASCII, so Java's and Python's string orders agree). */
  def digest(out: Array[(String, Int)]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    out.sortBy(_._1).foreach { case (w, c) => md.update(s"$w\t$c\n".getBytes("UTF-8")) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def files(dir: String): Seq[String] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".txt")).map(_.getPath).sorted

  /** Runs one job per input directory, in the seeded order of `pass`. */
  def pass(spark: SparkSession, inputs: Seq[String], seed: Long, pass: Int, traced: Boolean,
           keep: Option[String]): (Seq[Job], Seq[OpWindow]) = {
    import spark.implicits._
    val order = new scala.util.Random(seed * 1000003L + pass).shuffle(inputs)
    val jobs = ArrayBuffer[Job]()
    val windows = ArrayBuffer[OpWindow]()
    for (dir <- order) {
      val paths = files(dir)
      val bytes = paths.map(p => new java.io.File(p).length).sum
      val name = new java.io.File(dir).getName
      val marks = ArrayBuffer[(String, Long)]()
      val seen = scala.collection.mutable.LinkedHashSet[(String, Float)]()
      val t0 = System.nanoTime()
      var out: Array[(String, Int)] = Array.empty
      val error = try {
        val input = FileSources.readWholeFiles(spark, paths).as[(String, String)]
        val h = MapReduceJob.startJob(spark, input, FileWordCounter.client)
        marks += (("submit", t0))
        def observe(): Unit = {
          val st = h.getJobState
          val stage = st.stage.toString.toLowerCase
          if (seen.add((stage, st.percentage)) && stage != "undefined" && marks.last._1 != stage)
            marks += ((stage, System.nanoTime()))
        }
        while (!h.isDone) { observe(); Thread.sleep(2) }
        observe()
        out = h.waitForJob()
        h.close()
        None
      } catch {
        case e: Throwable => Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}")
      }
      val t1 = System.nanoTime()
      val bounds = marks.map(_._2) :+ t1
      val phases = marks.indices.map(i => (marks(i)._1, bounds(i), bounds(i + 1)))
      windows += OpWindow(s"p$pass/$name", name, t0, t1, phases.toSeq)
      jobs += Job(name, pass, traced, (t1 - t0) / 1e9, bytes,
        phases.map(p => (p._1, (p._3 - p._2) / 1e9)).toSeq, seen.size, out.length,
        if (error.isEmpty) digest(out) else "", error)
      // The first result per input is written out so run.py can report
      // which words differ when a digest does not match.
      keep.foreach { d =>
        val f = new java.io.File(d, s"$name.tsv")
        if (error.isEmpty && !f.exists()) {
          f.getParentFile.mkdirs()
          java.nio.file.Files.write(f.toPath,
            out.sortBy(_._1).map { case (w, c) => s"$w\t$c\n" }.mkString.getBytes("UTF-8"))
        }
      }
    }
    (jobs.toSeq, windows.toSeq)
  }
}
