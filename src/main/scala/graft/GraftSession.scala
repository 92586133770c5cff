package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session factory: Bench, Verify and the test suite all
  * run under this conf, so a conf change touches this file only. */
object GraftSession {
  def build(): SparkSession = {
    // task slots: SPARK_GRAFT_CPUS, else every core the JVM sees
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // AQE coalescing targets BYTES; several catalog stages are
      // CPU-dense on tiny bytes (gap-fill explodes, text/geo kernels),
      // and the 1 MB default floor collapsed them to 1-5 tasks while the
      // other cores idled. A 64k floor only binds when partitions are
      // this small -- at production scale partitions are >>1 MB and the
      // knob is inert (r17 opt, guide SS2.2/SS2.5)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      // the JVM-global compiled-codegen cache holds 100 classes by
      // default; one sweep-shaped query (g28/g28b: 5-9 chained plans x
      // several compile units each) plus its neighbors overflow it, so
      // steady-state runs RE-COMPILED every stage -- jstack sampling
      // showed executor tasks inside CodeGenerator.compile behind the
      // KeyLock even on the 12th identical run. Cache size is
      // data-scale-independent (it bounds compiled classes, not rows);
      // 4096 fits comfortably in a driver heap at any scale (r17 opt)
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // tiny-shuffle writer: with reducers <= 200 and no map-side
      // combine, the bypass writer opens R files per MAP task and
      // concatenates them via transferTo -- jstack sampling showed the
      // busy executor threads inside FileChannel map/unmap doing exactly
      // that on this host. Threshold 1 routes those shuffles through the
      // serialized sort writer (one file per map task, no concat):
      // iterative chains win 20-30% (t32 4.66->3.22, g19 3.64->2.52
      // same-window min-of-5). INERT AT SCALE: production reducer counts
      // exceed 200, where the bypass path never fires anyway (r17 opt)
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      // NTZ fixture timestamps are reinterpreted in the session TZ
      // (Tables.normalizeTs); pin UTC so timings and plans match Verify
      // regardless of host TZ
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drops every persisted frame a query left behind, so the next query
    * neither pays GC pressure for it nor plans against its cache.
    * `Fixpoint.pin` blocks live outside the catalog cache, so the
    * persistent-RDD registry is swept too. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  /** Runs `body` with the session conf overrides `kvs` in force, then puts
    * each key back as it was: its prior value, or unset if it had none.
    * `getAll` (the explicitly set keys) decides which, since `getOption`
    * reports a registered key's default as if it were set. Restores on a
    * throw too, so a failing query cannot leak its overrides into the
    * next one. Like any session conf change it is not safe under queries
    * run concurrently on the same session. */
  def withConf[T](spark: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val set = spark.conf.getAll
    val prior = kvs.map { case (k, _) => k -> set.get(k) }
    try {
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prior.reverse.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
