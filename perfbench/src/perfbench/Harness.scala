package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. One client thread runs a closed loop over
  * the workload's queries in `SparkEntry` declaration order; a query is
  * `fn(spark, dir)` (construct) followed by a parquet write of the whole
  * result (action); memos are released at family boundaries.
  *
  * Arguments are `key=value` pairs:
  *   mode=oracle|run  plan=fam:q1,q2/fam2:q3  out=<run dir>
  *   data=<input dir>  cores=<n>  seconds=<s>  trace=0|1  warmup=<query>
  *   run_id=<id>
  *
  * `oracle` writes the query families and every query's DuckDB oracle
  * SQL; `run` sets up, runs one untimed warm-up query and then measures
  * whole passes for at least `seconds`, with [[Tracer]] attached when
  * trace=1. Everything lands in
  * `<out>/record.json` (and `<out>/spans.jsonl` when traced). */
object Harness {
  final case class Query(family: String, name: String)

  final case class QueryRun(name: String, pass: Int, start: Double,
      constructEnd: Double, end: Double, error: Option[String],
      memoEntries: Int, memoBytes: Long)

  final case class Release(pass: Int, family: String, start: Double,
      end: Double, persistentAfter: Int)

  final case class PassRun(index: Int, start: Double,
      end: Double, cpuS: Double, heapPeakMb: Double, gcCount: Long)

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Monotonic seconds since process-relative origin, plus the epoch
    * millisecond at that origin so Spark's event times can be mapped. */
  private val originNs = System.nanoTime()
  val originEpochMs: Long = System.currentTimeMillis()
  def now(): Double = (System.nanoTime() - originNs) / 1e9
  def fromEpochMs(ms: Long): Double = (ms - originEpochMs) / 1e3
  private def epochS(): Double = System.currentTimeMillis() / 1e3

  def main(args: Array[String]): Unit = {
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val plan = kv("plan").split('/').toSeq.flatMap { f =>
      val Array(fam, qs) = f.split(':')
      qs.split(',').toSeq.map(Query(fam, _))
    }
    val out = kv("out")
    Files.createDirectories(Paths.get(out))
    kv("mode") match {
      case "oracle" => writeOracle(out)
      case "run" => run(kv, plan, out)
    }
  }

  private def writeJson(path: String, value: Any): Unit =
    Files.writeString(Paths.get(path), mapper.writeValueAsString(value))

  /** The query families in declaration order and every query's oracle. */
  private def writeOracle(out: String): Unit = {
    val (sql, rows) = (graft.SparkEntry.oracleSql, graft.SparkEntry.rowsOracleSql)
    val families = graft.SparkEntry.families.map { case (f, qs) => f -> qs.map(_.name) }
    writeJson(s"$out/oracle.json", Map(
      "families" -> families.map { case (f, names) => Seq(f, names) },
      "oracle" -> families.flatMap(_._2).map { q =>
        q -> Map("sql" -> sql.get(q), "rows_sql" -> rows.get(q))
      }.toMap))
  }

  /** Old-generation occupancy after each GC, as seen by the JVM's GC
    * notifications; `take()` returns the peak since the previous call. */
  private object OldGen {
    @volatile private var peak = 0L
    @volatile private var gcs = 0L
    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener((n: Notification, _: AnyRef) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
            case (pool, u) if pool.contains("Old Gen") || pool.contains("Tenured") => u.getUsed
          }.sum
          synchronized { peak = math.max(peak, used); gcs += 1 }
        }, null, null)
      case _ => ()
    }
    def take(): (Long, Long) = synchronized { val r = (peak, gcs); peak = 0L; gcs = 0L; r }
  }

  private def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private def run(kv: Map[String, String], plan: Seq[Query], out: String): Unit = {
    val data = kv("data")
    val cores = kv("cores").toInt
    val sessionStartEpoch = epochS()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    sc.setCheckpointDir(s"$out/checkpoint")
    graft.CodegenSentinel.install()
    OldGen.install()
    val sessionReadyEpoch = epochS()

    val fns = graft.SparkEntry.queries
    fns(kv("warmup"))(spark, data).write.mode("overwrite").parquet(s"$out/results/warmup")
    graft.SparkEntry.releaseMemos(spark)
    val warmupDoneEpoch = epochS()

    val record = mutable.LinkedHashMap[String, Any](
      "jvm_start_epoch_s" -> ManagementFactory.getRuntimeMXBean.getStartTime / 1e3,
      "session_start_epoch_s" -> sessionStartEpoch,
      "session_ready_epoch_s" -> sessionReadyEpoch,
      "warmup_done_epoch_s" -> warmupDoneEpoch,
      "spark_version" -> spark.version,
      "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0)

    val seconds = kv("seconds").toDouble
    val queries = mutable.Buffer.empty[QueryRun]
    val releases = mutable.Buffer.empty[Release]
    val passes = mutable.Buffer.empty[PassRun]

    def runPass(index: Int, tracer: Option[Tracer]): Unit = {
      spark.catalog.clearCache()
      OldGen.take()
      val (p0, cpu0) = (now(), processCpuS())
      plan.groupBy(_.family).toSeq.sortBy { case (_, qs) => plan.indexOf(qs.head) }
        .foreach { case (family, qs) =>
          qs.foreach { q =>
            val start = now()
            sc.setLocalProperty(Tracer.SpanProp, s"$index/${q.name}/construct")
            var constructEnd = start
            val error =
              try {
                val df = fns(q.name)(spark, data)
                constructEnd = now()
                sc.setLocalProperty(Tracer.SpanProp, s"$index/${q.name}/action")
                df.write.mode("overwrite").parquet(s"$out/results/p$index/${q.name}")
                None
              } catch { case e: Throwable =>
                Some((e.getClass.getSimpleName + ": " + e.getMessage).take(400))
              } finally sc.setLocalProperty(Tracer.SpanProp, null)
            val end = now()
            val (entries, bytes) =
              if (tracer.isEmpty) (0, 0L)
              else (graft.api.Memo.trackedCount,
                sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum)
            queries += QueryRun(q.name, index, start, constructEnd, end, error, entries, bytes)
          }
          val r0 = now()
          graft.SparkEntry.releaseMemos(spark)
          releases += Release(index, family, r0, now(), sc.getPersistentRDDs.size)
        }
      val (peak, gcs) = OldGen.take()
      passes += PassRun(index, p0, now(), processCpuS() - cpu0,
        peak / 1048576.0, gcs)
    }

    val tracer = if (kv("trace") == "1") Some(Tracer.attach(spark)) else None
    val runStart = now()
    val deadline = runStart + seconds
    while (passes.isEmpty || now() < deadline) runPass(passes.size, tracer)
    val runEnd = now()
    tracer.foreach { t =>
      t.detach(spark)
      t.writeSpans(s"$out/spans.jsonl", kv("run_id"), runStart, runEnd,
        passes.toSeq, queries.toSeq, releases.toSeq)
      record("layers") = t.layers(cores, passes.toSeq, queries.toSeq, releases.toSeq)
    }
    record("passes") = passes.map { p =>
      Map("index" -> p.index, "wall_s" -> (p.end - p.start),
        "cpu_s" -> p.cpuS, "heap_peak_mb" -> p.heapPeakMb, "gcs" -> p.gcCount,
        "release_s" -> releases.filter(_.pass == p.index).map(r => r.end - r.start).sum)
    }.toSeq
    record("queries") = queries.map { q =>
      Map("name" -> q.name, "pass" -> q.pass, "construct_s" -> (q.constructEnd - q.start),
        "latency_s" -> (q.end - q.start), "error" -> q.error.orNull)
    }.toSeq
    record("codegen_fallbacks") = graft.CodegenSentinel.fallbackCount
    record("louvain_dispatches") = graft.api.GraftOps.louvainDispatches.map {
      case (m, delta) => Map("m" -> m, "arm" -> (if (delta) "delta" else "full"))
    }
    graft.CodegenSentinel.reportClean("perfbench")
    spark.stop()
    writeJson(s"$out/record.json", record)
  }
}
