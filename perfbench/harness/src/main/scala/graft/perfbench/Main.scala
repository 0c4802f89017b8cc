package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import graft.{Mats, SparkEntry}
import graft.pipeline._

/** Runs one benchmark plan in a fresh JVM and writes the raw record that
  * `perfbench/run.py` turns into metrics.
  *
  * Everything here sits outside the program: it calls the public entry
  * points (`SparkEntry.queries`, `executedPlan`, the noop write,
  * `Mats.release()`, `Tables.load`, `IngestionRunner.run()`,
  * `Versioned.current/history/vacuum`) and times those calls.
  *
  * Arguments (all `--name value`): plan, warm_plan, data, warm_data,
  * scratch, out, spans, cpus, passes, trace (0|1), launched_ms,
  * setup_only (0|1), mat_threshold (optional). With `setup_only 1` the JVM
  * does its one cold set-up, writes it and exits.
  */
object Main {
  private final case class Step(kind: String, args: Vector[String])

  private def readPlan(path: String): Vector[Step] =
    Files.readAllLines(Paths.get(path)).asScala.toVector
      .filter(_.nonEmpty).map { l =>
        val f = l.split("\t", -1).toVector
        Step(f.head, f.tail)
      }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    if (a("setup_only") == "1") new Main(a, Vector.empty, Vector.empty).setUpOnly()
    else new Main(a, readPlan(a("warm_plan")), readPlan(a("plan"))).run()
  }
}

final class Main(a: Map[String, String], warmSteps: Vector[Main.Step],
    steps: Vector[Main.Step]) {
  import Main.Step

  private val data = a("data")
  private val scratch = a("scratch")
  private val cpus = a("cpus").toInt
  private val traced = a("trace") == "1"
  private var tracing = traced
  private val trace = new Trace

  private def session(): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.local.dir", s"$scratch/local")
      .config("spark.sql.streaming.checkpointLocation", s"$scratch/checkpoints")
      .config("spark.graft.stageRoot", s"$scratch/stage")
    a.get("mat_threshold").foreach(t => b.config("spark.graft.mat.threshold", t))
    if (traced) b.config("spark.sql.streaming.streamingQueryListeners",
      classOf[ProgressListener].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** One set-up: session start and graft.Bench's codegen warm-up (its
    * entry query on the smallest tables). Returns the session and the
    * seconds each part took. */
  private def setUp(): (SparkSession, Map[String, Any]) = {
    val t0 = System.nanoTime()
    val s = session()
    val t1 = System.nanoTime()
    graft.operators.Relational.aggHashGroup.fn(s, a("warm_data"))
      .write.format("noop").mode("overwrite").save()
    (s, Map("session_s" -> (t1 - t0) / 1e9, "warm_s" -> (System.nanoTime() - t1) / 1e9))
  }

  private val records = mutable.ArrayBuffer[Map[String, Any]]()

  /** The JVM's one set-up, cold: timed from the launch, so that it covers
    * JVM start, class loading and first codegen. */
  private def coldSetUp(): (SparkSession, Map[String, Any]) = {
    val (s, parts) = setUp()
    val secs = (System.currentTimeMillis() - a("launched_ms").toLong) / 1e3
    (s, Map("s" -> secs, "gc_s" -> gcMs / 1e3, "jit_s" -> jitMs / 1e3) ++ parts)
  }

  def setUpOnly(): Unit = {
    val (spark, setup) = coldSetUp()
    spark.stop()
    Files.write(Paths.get(a("out")), Json(Map("setup" -> setup)).getBytes("UTF-8"))
  }

  /** Runs one pass over `plan` and returns its wall time, output checks
    * excluded: each op with everything the harness does around it, so that
    * `Mats.release()` and the Spark driver's work between ops count. */
  private def runPass(s: SparkSession, plan: Vector[Step], pass: Int): Double =
    plan.map { st =>
      val t0 = System.nanoTime()
      runStep(s, st, pass)
      if (st.kind == "check") 0.0 else (System.nanoTime() - t0) / 1e9
    }.sum

  def run(): Unit = {
    val (spark, setup) = coldSetUp()
    // pass 0 warms up, untimed and untraced: JIT, codegen caches and the
    // session's cross-key memos fill here, as they would early in a session
    tracing = false
    runPass(spark, warmSteps, 0)
    tracing = traced
    if (traced) {
      spark.sparkContext.addSparkListener(trace)
      Trace.active = trace
    }
    val tablesMs = if (traced) timeTableLoads(spark) else Seq.empty[Double]

    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val cpu0 = os.getProcessCpuTime
    val start = System.nanoTime()
    val passS = mutable.ArrayBuffer[Double]()
    val passes = if (traced) 1 else a("passes").toInt
    while (passS.size < passes) passS += runPass(spark, steps, passS.size + 1)
    val timedS = (System.nanoTime() - start) / 1e9
    val timedCpuS = (os.getProcessCpuTime - cpu0) / 1e9
    if (traced) {
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(trace)
      Trace.active = null
      // the same ops untraced, in the same JVM: the reference for
      // trace.overhead
      tracing = false
      passS += runPass(spark, steps, 2)
    }

    // retained memory, outside every timed region: Spark's ContextCleaner
    // frees broadcast and shuffle state only after a GC has collected their
    // handles, so collect until the cleaner has caught up
    val heap = (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(250)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }.min
    val rec = Map(
      "setup" -> setup,
      "pass_s" -> passS.toSeq,
      "timed_s" -> timedS,
      "timed_cpu_s" -> timedCpuS,
      "ops" -> records.toSeq,
      "op_stats" -> trace.opJson,
      "tables_load_ms" -> tablesMs,
      "live_heap_mb" -> heap / 1048576.0,
      "host" -> Map(
        "spark" -> spark.version,
        "java" -> System.getProperty("java.version"),
        "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "cpus" -> cpus,
        "process_cpu_s" -> os.getProcessCpuTime / 1e9))
    spark.stop()
    Files.write(Paths.get(a("out")), Json(rec).getBytes("UTF-8"))
    if (traced) Files.write(Paths.get(a("spans")),
      trace.spanJson.toSeq.asJava)
  }

  /** `Tables.load` per call, for every registry table, three times each. */
  private def timeTableLoads(s: SparkSession): Seq[Double] =
    for (_ <- 1 to 3; t <- graft.Tables.names) yield {
      val t0 = System.nanoTime()
      graft.Tables.load(s, data, t)
      (System.nanoTime() - t0) / 1e6
    }

  // ------------------------------------------------------------ one step

  private var opSeq = 0

  /** Runs `body` as one op: a root span, the op's local properties for the
    * listener, and the wall time around the timed region only. */
  private def op(s: SparkSession, name: String, kind: String, pass: Int)(
      body: Int => Map[String, Any]): Unit = {
    val id = opSeq
    opSeq += 1
    val root = trace.open(-1, s"$kind:$name")
    val sc = s.sparkContext
    sc.setLocalProperty(trace.OpProp, id.toString)
    trace.currentOp = id
    val r = try body(root) catch {
      case e: Throwable =>
        Map("ok" -> false, "err" -> s"${e.getClass.getName}: ${e.getMessage}".take(500))
    }
    if (tracing) org.apache.spark.perfbench.Bus.drain(sc)
    trace.currentOp = -1
    trace.close(root)
    sc.setLocalProperty(trace.OpProp, null)
    sc.setLocalProperty(trace.SpanProp, null)
    records += Map("id" -> id, "span" -> root, "name" -> name, "kind" -> kind,
      "pass" -> pass) ++ r
  }

  /** Opens a child span of `parent` and tags the jobs `f` launches with it. */
  private def phase[T](s: SparkSession, parent: Int, name: String)(f: => T): T = {
    val id = trace.open(parent, name)
    s.sparkContext.setLocalProperty(trace.SpanProp, id.toString)
    try f finally trace.close(id)
  }

  private def runStep(s: SparkSession, st: Step, pass: Int): Unit = st.kind match {
    case "key" => runKey(s, st.args(0), pass)
    case _ => runIngest(s, st, pass)
  }

  /** Order-independent result fingerprint, observed on the timed noop
    * write itself so that the key runs once: row count, XOR and modular sum
    * of a per-row xxhash64. Doubles are hashed as floats so that the last
    * bits, which depend on the order partial aggregates are merged in, do
    * not change the fingerprint. */
  private def fingerprinted(df: DataFrame, obs: Observation): DataFrame = {
    val cols = df.schema.fields.toSeq.map { f =>
      if (f.dataType == DoubleType) col(s"`${f.name}`").cast(FloatType)
      else col(s"`${f.name}`")
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    df.observe(obs, count(lit(1)).as("rows"), bit_xor(h).as("x"),
      sum(pmod(h, lit(1000000007L))).as("s"))
  }

  private def persisted(s: SparkSession): (Int, Double) = {
    val sc = s.sparkContext
    val ids = sc.getPersistentRDDs.keySet
    val mb = sc.getRDDStorageInfo.filter(i => ids.contains(i.id))
      .map(i => i.memSize + i.diskSize).sum / 1048576.0
    (ids.size, mb)
  }

  private def runKey(s: SparkSession, key: String, pass: Int): Unit =
    op(s, key, "key", pass) { root =>
      val fn = SparkEntry.queries(key)
      val obs = new Observation(s"fp$opSeq")
      val t0 = System.nanoTime()
      val df = phase(s, root, "body")(fn(s, data))
      val counts =
        if (tracing) phase(s, root, "plan")(planCounts(df.queryExecution.executedPlan))
        else Map.empty[String, Int]
      val t1 = System.nanoTime()
      phase(s, root, "write")(
        fingerprinted(df, obs).write.format("noop").mode("overwrite").save())
      val wall = (System.nanoTime() - t0) / 1e9
      val planS = (t1 - t0) / 1e9
      val m = obs.get
      val fp = Map("rows" -> m("rows"), "hash" -> s"${m("x")}:${m("s")}")
      val mats =
        if (!tracing) { Mats.release(); Map.empty[String, Any] }
        else {
          val (hr, hmb) = persisted(s)
          val r0 = System.nanoTime()
          phase(s, root, "release")(Mats.release())
          val rel = (System.nanoTime() - r0) / 1e6
          val (pr, pmb) = persisted(s)
          Map("held_rdds" -> (hr - pr), "held_mb" -> math.max(0.0, hmb - pmb),
            "release_ms" -> rel, "pinned_rdds" -> pr, "pinned_mb" -> pmb)
        }
      Map("ok" -> true, "wall_s" -> wall, "to_plan_s" -> planS,
        "plan" -> counts) ++ fp ++ mats
    }

  /** Exact plan-shape counts of the physical plan, before execution. */
  private def planCounts(p: SparkPlan): Map[String, Int] = {
    def walk(n: SparkPlan): Iterator[SparkPlan] = {
      val inner = n match {
        case ad: AdaptiveSparkPlanExec => Seq(ad.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => n.children
      }
      Iterator(n) ++ (inner ++ n.subqueries).iterator.flatMap(walk)
    }
    val nodes = walk(p).toSeq
    Map(
      "exchanges" -> nodes.count {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
        case _ => false
      },
      "scans" -> nodes.count {
        case _: FileSourceScanExec | _: BatchScanExec => true
        case _ => false
      },
      "smj" -> nodes.count(_.isInstanceOf[SortMergeJoinExec]),
      "unpartitioned_windows" -> nodes.count {
        case w: WindowExec => w.partitionSpec.isEmpty
        case _ => false
      })
  }

  // -------------------------------------------------------------- ingest

  private def ingestRoot(pass: Int) = s"$scratch/ingest/p$pass"

  private def ingestConfig(pass: Int, source: String): IngestionConfig =
    IngestionConfig(
      database = s"perfbench$pass", table = "lineitem_live",
      sourcePath = source,
      writeMode = WriteMode.Merge(Seq("li_id"), deleteOnMatch = Some("op = 'D'")),
      targetPath = Some(s"${ingestRoot(pass)}/lineitem_live"),
      retainVersions = 3,
      constraints = Seq(Constraint("positive_qty", "l_quantity > 0")),
      onViolation = ViolationAction.Quarantine(s"${ingestRoot(pass)}/quarantine"))

  private def versionsRoot(s: SparkSession, pass: Int): HPath =
    new IngestionRunner(s, ingestConfig(pass, "unused")).versionsRoot(
      ingestConfig(pass, "unused"))

  private def duBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  private def runIngest(s: SparkSession, st: Step, pass: Int): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    st.kind match {
      case "load" | "merge" | "optimize" =>
        val Vector(src, rows, _) = st.args
        val base = ingestConfig(pass, src)
        val cfg = if (st.kind == "optimize")
          base.copy(clusterBy = Seq("l_shipdate", "l_orderkey")) else base
        op(s, st.kind, st.kind, pass) { root =>
          val t0 = System.nanoTime()
          val r = phase(s, root, "run")(new IngestionRunner(s, cfg).run())
          val wall = (System.nanoTime() - t0) / 1e9
          val current = Versioned.current(versionsRoot(s, pass), conf)
          Map("ok" -> (r == Right(rows.toLong) && current.isDefined),
            "wall_s" -> wall, "result" -> r.fold(e => e, _.toString),
            "expected" -> rows, "source_bytes" -> duBytes(Paths.get(src)),
            "err" -> (if (r.isLeft) r.left.toOption.get else ""))
        }
      case "vacuum" =>
        op(s, "vacuum", "vacuum", pass) { root =>
          val vr = versionsRoot(s, pass)
          val local = Paths.get(vr.toUri.getPath)
          val versions = Files.list(local).iterator().asScala
            .count(p => p.getFileName.toString.startsWith("v_"))
          val liveBytes = Versioned.current(vr, conf)
            .map(p => duBytes(Paths.get(p.toUri.getPath))).getOrElse(0L)
          val allBytes = duBytes(local)
          val history = Versioned.history(vr, conf).size
          val t0 = System.nanoTime()
          phase(s, root, "run")(Versioned.vacuum(vr, conf, keepVersions = 2))
          val wall = (System.nanoTime() - t0) / 1e9
          Map("ok" -> (history > 0 && Versioned.current(vr, conf).isDefined),
            "wall_s" -> wall, "versions_on_disk" -> versions,
            "space_amp" -> (if (liveBytes > 0) allBytes.toDouble / liveBytes else 0.0),
            "history" -> history)
        }
      case "drain" =>
        val Vector(land, rows) = st.args
        val cfg = IngestionConfig(
          database = s"perfbench$pass", table = "events_sink", sourcePath = land,
          ingestMode = IngestMode.Stream(s"${ingestRoot(pass)}/events_ckpt"),
          targetPath = Some(s"${ingestRoot(pass)}/events_sink"))
        op(s, "drain", "drain", pass) { root =>
          val t0 = System.nanoTime()
          val r = phase(s, root, "run")(new IngestionRunner(s, cfg).run())
          val wall = (System.nanoTime() - t0) / 1e9
          Map("ok" -> (r == Right(rows.toLong)), "wall_s" -> wall,
            "result" -> r.fold(e => e, _.toString), "expected" -> rows,
            "source_bytes" -> duBytes(Paths.get(land)))
        }
      case "check" =>
        // final table state against the generator's replay, outside timing
        val Vector(rows, sumId, sumRev, sumQty, quarantined) = st.args
        op(s, "check", "check", pass) { _ =>
          val cur = Versioned.current(versionsRoot(s, pass), conf)
          val got = cur.map { p =>
            val r = s.read.parquet(p.toString).agg(count(lit(1)), sum("li_id"),
              sum("rev"), sum(col("l_quantity").cast("bigint"))).head()
            (0 until 4).map(r.getLong).mkString(",")
          }.getOrElse("unreadable")
          val q = s.read.parquet(s"${ingestRoot(pass)}/quarantine").count()
          val want = Seq(rows, sumId, sumRev, sumQty).mkString(",")
          Map("ok" -> (got == want && q == quarantined.toLong),
            "got" -> s"$got;$q", "expected" -> s"$want;$quarantined")
        }
    }
  }
}
