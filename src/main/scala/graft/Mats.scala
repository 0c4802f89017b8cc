package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import scala.util.control.NonFatal

/** Per-key materialization bookkeeping (optimization rounds 18/19).
  *
  * Round 18 materialized multiply-referenced intermediates (Spark re-inlines
  * CTE/view references, so a k-referenced relation re-runs its upstream k
  * times) with eager `localCheckpoint()` pinned for the whole session. Two
  * measured problems (VERDICT r18 #2/#4):
  *
  *   1. The eager checkpoint adds a job + an RDD round-trip that the saved
  *      re-scans do NOT pay back at small scale (agg_jonckheere 1.55→2.85 s
  *      cold at sf0.1) — the win only exists when the re-scanned upstream is
  *      fact-sized.
  *   2. Nothing was ever unpersisted: across a 538-key run the pinned
  *      blocks squeeze storage/execution memory in the shared JVM and
  *      untouched later keys slow down 2-3× (the r18 "structural" drift).
  *
  * This object fixes both:
  *
  *   - [[matCkpt]]/[[matCache]] are SCALE-AWARE: below an input-size
  *     threshold (default 64 MB of source parquet; conf
  *     `spark.graft.mat.threshold`) the relation is returned un-materialized
  *     — re-running a sub-second upstream k times is cheaper than any
  *     materialization at test scale, while at fact scale (sf1+, and the
  *     100 TB target) the checkpoint engages and the upstream runs once.
  *     Only safe for DETERMINISTIC relations (all registry intermediates
  *     are): inlining vs materializing then yields identical results.
  *   - Every materialization is TRACKED, and the harness mains (Bench,
  *     Verify, Profile) call [[release]] at key boundaries, so a key's
  *     blocks never outlive the key. Genuinely cross-key relations (the
  *     supply-graph edge cache, the converged-component memo, the shared
  *     shingle caches) deliberately do NOT go through this tracker.
  *
  * Never keyed on data content; nothing survives the session — every run
  * recomputes from parquet.
  */
object Mats {
  private val tracked =
    new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()

  private val dirBytes =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Total bytes under the source data dir (filesystem metadata only,
    * memoized per path). Sized through the Hadoop FileSystem API, so an
    * `hdfs://`, `s3a://` or `file:` URI sizes like a bare local path; a size
    * that cannot be read counts as unbounded — at an unknown scale,
    * materializing is the safe side. */
  def inputBytes(s: SparkSession, dir: String): Long =
    dirBytes.computeIfAbsent(dir, { d =>
      val p = new Path(d)
      val n =
        try p.getFileSystem(s.sessionState.newHadoopConf()).getContentSummary(p).getLength
        catch { case NonFatal(_) => Long.MaxValue }
      java.lang.Long.valueOf(n)
    }).longValue()

  private def threshold(s: SparkSession): Long =
    s.conf.getOption("spark.graft.mat.threshold")
      .map(_.toLong).getOrElse(64L * 1024 * 1024)

  /** True when the source data is large enough that materializing a
    * multiply-referenced intermediate beats re-running its upstream. */
  def materializeAt(s: SparkSession, d: String): Boolean =
    inputBytes(s, d) >= threshold(s)

  /** Record the checkpoint RDD(s) backing `df` for release at the next key
    * boundary. */
  def track(df: DataFrame): DataFrame = {
    df.queryExecution.logical.collect { case l: LogicalRDD => l.rdd }
      .foreach(r => tracked.add(() => { r.unpersist(false); () }))
    df
  }

  /** Lazy localCheckpoint (the first consuming job materializes the blocks
    * — an eager one would run a redundant extra job), tracked for release. */
  def ckpt(df: DataFrame, eager: Boolean = false): DataFrame =
    track(df.localCheckpoint(eager))

  /** cache() tracked for release at the key boundary. */
  def cache(df: DataFrame): DataFrame = {
    df.persist()
    tracked.add(() => { df.unpersist(false); () })
    df
  }

  /** Scale-aware lineage-cut point: at fact scale, a tracked lazy
    * localCheckpoint; below the threshold, the relation as-is (Catalyst
    * re-inlines each reference — cheaper than materializing at test SFs). */
  def matCkpt(s: SparkSession, d: String)(df: DataFrame): DataFrame =
    if (materializeAt(s, d)) ckpt(df) else df

  /** Scale-aware cache: as [[matCkpt]] but keeps lineage (fault-tolerant —
    * preferred when the relation is fact-scale, ADVICE r18 #2). */
  def matCache(s: SparkSession, d: String)(df: DataFrame): DataFrame =
    if (materializeAt(s, d)) cache(df) else df

  /** Chainable spellings: `df.matCkpt(s, d).createOrReplaceTempView(...)`. */
  implicit class MatOps(private val df: DataFrame) extends AnyVal {
    def matCkpt(s: SparkSession, d: String): DataFrame = Mats.matCkpt(s, d)(df)
    def matCache(s: SparkSession, d: String): DataFrame = Mats.matCache(s, d)(df)
    /** Unconditional tracked checkpoint (loop lineage cuts that are
      * needed at every scale — plan size, not rescan avoidance). */
    def trackedCkpt(eager: Boolean = false): DataFrame = Mats.ckpt(df, eager)
    def trackedCache(): DataFrame = Mats.cache(df)
  }

  /** Free every materialization tracked since the last release (called by
    * the harness mains between registry keys). */
  def release(): Unit = {
    var f = tracked.poll()
    while (f != null) {
      try f() catch { case _: Throwable => () }
      f = tracked.poll()
    }
  }
}
