package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.ops.Util

/** Runs one benchmark workload in one JVM and writes its raw measurements
  * as JSON; perfbench/metrics.py turns them into the reported metrics.
  *
  * Arguments are key=value pairs: queries (comma-separated builder names),
  * data (input table directory), seed, seconds, trace (0|1), out (result
  * file), setups (set-up repetitions), warmups (untimed passes before the
  * steady ones), origin_ms (epoch ms from which set-up
  * time counts: the benchmark process, after its build), cores, local_dir
  * (Spark scratch space) and warehouse (Spark warehouse directory).
  *
  * Phases, in order:
  *  1. set-up, `setups` times: a fresh session with graft.Bench's settings,
  *     Bench's warm-up query, and one untimed call of every builder, which
  *     stages the builders' memoized fixtures;
  *  2. the first timed pass, cold. A timed query is the builder call plus
  *     a noop-sink save, which materializes every column and the final
  *     sort. This pass runs the queries in their listed order, as a batch
  *     job would; every later pass in a seeded order. Cached subtrees are
  *     released and the heap collected before each query, outside its
  *     timed window;
  *  3. an untimed output check that fingerprints every query's result. It
  *     runs here rather than last because it also warms the JIT for the
  *     steady passes. Then the heap still in use after a full collection;
  *  4. `warmups` more untimed passes in seeded order, which let the JIT
  *     finish compiling the hot paths;
  *  5. steady timed passes until `seconds` have passed since the first of
  *     them began, at least three (trace mode: alternating traced and
  *     untraced passes, at least two of each).
  */
object Harness {
  private final case class Conf(args: Map[String, String]) {
    val queries: Seq[String] = args("queries").split(",").toSeq
    val data: String = args("data")
    val seed: Long = args("seed").toLong
    val seconds: Double = args("seconds").toDouble
    val trace: Boolean = args("trace") == "1"
    val out: String = args("out")
    val setups: Int = args("setups").toInt
    val warmups: Int = args("warmups").toInt
    val originMs: Long = args("origin_ms").toLong
    val cores: Int = args("cores").toInt
    val localDir: String = args("local_dir")
    val warehouse: String = args("warehouse")
  }

  private def session(c: Conf): SparkSession =
    SparkSession.builder()
      .master(s"local[${c.cores}]")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.ui.retainedDeadExecutors", "0")
      .config("spark.local.dir", c.localDir)
      .config("spark.sql.warehouse.dir", c.warehouse)
      .getOrCreate()

  def main(argv: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val c = Conf(argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap)
    val all = SparkEntry.queries
    val missing = c.queries.filterNot(all.contains)
    require(missing.isEmpty, s"unknown builders: ${missing.mkString(", ")}")
    val builders = c.queries.map(n => n -> all(n))

    // 1. set-up, repeated; each repetition counts the JVM start-up once
    val bootS = (mainMs - c.originMs) / 1e3
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (_ <- 0 until c.setups) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = session(c)
      spark.sparkContext.setLogLevel("ERROR")
      all("q_scan_parquet")(spark, c.data).count()
      val preFailures = builders.flatMap { case (n, fn) =>
        try { fn(spark, c.data); None } catch { case NonFatal(e) => Some(n -> message(e)) }
      }
      preFailures.foreach { case (n, m) => System.err.println(s"[perfbench] set-up call of $n failed: $m") }
      Util.unpersistRegistered()
      System.gc()
      setupS += bootS + (System.nanoTime() - t0) / 1e9
    }

    // 2. the cold pass, 3. the output check, 4. warm-up, 5. steady passes
    val tracer = if (c.trace) Some(new Tracer(spark)) else None
    val rng = new Random(c.seed)
    def runPass(p: Int, kind: String, traced: Boolean): Map[String, Any] = {
      val passStart = Clock.ms()
      val order = if (kind == "first") builders else rng.shuffle(builders)
      val qs = order.map { case (name, fn) =>
        quiesce(spark)
        var error: Option[String] = None
        val t0 = System.nanoTime()
        try {
          tracer.filter(_ => traced) match {
            case Some(t) =>
              t.query(s"p$p:$name", name, p) { span =>
                val df = span("ops.build")(fn(spark, c.data))
                span.plan(df)
                span("exec.write")(noopWrite(df))
              }
            case None => noopWrite(fn(spark, c.data))
          }
        } catch { case NonFatal(e) => error = Some(message(e)) }
        val sec = (System.nanoTime() - t0) / 1e9
        error.foreach(m => System.err.println(s"[perfbench] pass $p: $name failed: $m"))
        Map("name" -> name, "s" -> sec, "error" -> error)
      }
      val written = if (traced) Some(writtenSince(passStart, c.warehouse)) else None
      Map("pass" -> p, "kind" -> kind, "traced" -> traced, "queries" -> qs,
        "files_written" -> written.map(_._1), "bytes_written" -> written.map(_._2))
    }

    val passes = mutable.ArrayBuffer(runPass(0, "first", traced = false))
    val fingerprints = builders.map { case (name, fn) =>
      quiesce(spark)
      name -> (try fingerprint(fn(spark, c.data)) catch { case NonFatal(e) => "error: " + message(e) })
    }.toMap
    // retained heap, measured here because the check ran every query in the
    // same order on every seed, which the shuffled passes do not
    quiesce(spark)
    System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    for (_ <- 0 until c.warmups) passes += runPass(passes.size, "warmup", traced = false)
    val start = System.nanoTime()
    def enough: Boolean = {
      val steady = passes.filter(_("kind") == "steady")
      val traced = steady.count(_("traced") == true)
      (System.nanoTime() - start) / 1e9 >= c.seconds &&
        (if (c.trace) traced >= 2 && steady.size - traced >= 2 else steady.size >= 3)
    }
    while (!enough) {
      val p = passes.size
      passes += runPass(p, "steady", traced = tracer.isDefined && p % 2 == 0)
    }

    val result = Map("setup_s" -> setupS, "passes" -> passes, "fingerprints" -> fingerprints,
      "heap_retained_mb" -> heapMb, "cores" -> c.cores)
    val body = tracer match {
      case Some(t) => Json(result).stripSuffix("}") + ",\"trace\":" + t.toJson + "}"
      case None => Json(result)
    }
    Files.write(Paths.get(c.out), body.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Release the builders' cached subtrees, wait until their blocks are
    * gone, then collect the heap and give the context cleaner time to drop
    * the shuffles and broadcasts the collection made unreachable, so no
    * clean-up from one query runs inside the next query's timed window. */
  private def quiesce(spark: SparkSession): Unit = {
    Util.unpersistRegistered()
    val deadline = System.nanoTime() + 5000000000L
    while (spark.sparkContext.getRDDStorageInfo.nonEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    System.gc()
    Thread.sleep(50)
  }

  private def noopWrite(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.toSeq.headOption.getOrElse("")}"

  /** Order-insensitive fingerprint of a result: the row count, the schema,
    * and the sum of a 64-bit hash of each row's JSON form. */
  private def fingerprint(df: DataFrame): String = {
    val schema = df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    val positional = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val row = xxhash64(to_json(struct(positional.columns.map(col).toIndexedSeq: _*)))
    val r = positional.select(row.cast("decimal(38,0)").as("h")).agg(count(lit(1)), sum("h")).head()
    val hashSum = Option(r.get(1)).map(_.toString).getOrElse("0")
    s"${r.getLong(0)}:$hashSum:${Integer.toHexString(schema.hashCode)}"
  }

  /** Files (and their bytes) written since `sinceMs` under the run's own
    * temp root, the JVM temp directory and the Spark warehouse, and still
    * there. A file deleted while the walk runs is skipped. */
  private def writtenSince(sinceMs: Double, warehouse: String): (Long, Long) = {
    var files = 0L
    var bytes = 0L
    Seq(System.getProperty("java.io.tmpdir"), warehouse).map(Paths.get(_)).filter(Files.isDirectory(_))
      .foreach { root =>
        val walk = Files.walk(root)
        try walk.iterator().forEachRemaining { p =>
          val f = p.toFile
          if (f.isFile && f.lastModified() >= sinceMs) { files += 1; bytes += f.length() }
        } catch { case _: java.io.UncheckedIOException => () }
        finally walk.close()
      }
    (files, bytes)
  }
}
