package graft.core

import org.apache.spark.sql.SparkSession

/** The 100 TB deployment posture as code — the session configuration
  * this library is designed against, so a user standing up a
  * 1000-executor job starts from the settings every operator's plan
  * shape assumes instead of rediscovering them.
  *
  * Everything here is standard open-source Spark configuration; the
  * values encode the repo's §5 scale design:
  *  - AQE on with coalescing + skew-join: plans are written
  *    declaratively and let runtime re-planning pick partition counts
  *    and split skewed joins (q27's salting handles the keys AQE
  *    cannot see, e.g. pre-aggregation hot keys).
  *  - shuffle.partitions ≈ 2× total cores: the INITIAL number only —
  *    AQE coalesces down; undersizing it is the one mistake AQE
  *    cannot fix (a 200-partition default on 4000 cores serializes
  *    the big shuffles).
  *  - maxPartitionBytes 256 MB: scan tasks sized so a full row-group
  *    of the wide tables (documents with text, embeddings arrays)
  *    fits comfortably in executor memory with room for the
  *    per-partition hash tables the dedup operators build.
  *  - runtime bloom filters on: the q04-style semi-join reduction is
  *    asserted by PlanAuditSpec at cluster posture.
  *  - RocksDB state store: at 100 TB the stateful streaming jobs
  *    (stream dedup, sessionization, stream-stream joins) carry
  *    state far beyond executor heap; the default HDFS-backed
  *    provider keeps every version IN MEMORY per executor, RocksDB
  *    spills to local disk with incremental checkpointing. Same
  *    state semantics — RocksDbStateSpec runs the stateful jobs
  *    under it and pins output equality against the default
  *    provider.
  *  - UTC session timezone and nanosAsLong: the engine-parity
  *    contract every oracle-gated operator is proven under.
  *  - GraftExtensions: the AsOfJoin strategy, native hash/dot/
  *    intersect kernels, and their rewrite rules.
  *  - [[ExcludedRules]]: the optimizer rules no posture may run.
  *  - [[LocalFsConfs]]: local files through [[LocalFs]], which forks
  *    no process per file.
  *  - [[SharedArtifacts]]: one codegen cache for all queries, so a
  *    new streaming query reuses the classes earlier ones compiled.
  */
object ClusterConf {

  /** InferFiltersFromGenerate is excluded in every posture (this one
    * and `Bench.buildSession`'s): on a COMPUTED array it copies the
    * full generator expression into an inferred size>0/isnotnull
    * filter, which then pushes below exchanges and re-evaluates the
    * pipeline per row at the scan's parallelism — the dd20 trap
    * (8.5→0.7 s in round 6), re-found in ev20's from_json flatten (two
    * duplicated 8×-from_json filter chains on the one-task scan;
    * 2.74→1.94 s excluded, controls flat). The rule's only effect is
    * adding filters that `explode` semantics already imply, so plans
    * are result-identical at every scale; at 100 TB the
    * duplicated-generator cost only grows.
    */
  val ExcludedRules: (String, String) = "spark.sql.optimizer.excludedRules" ->
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"

  /** Hadoop's local file system, both APIs, as [[LocalFs]] in every
    * posture (this one and `Bench.buildSession`'s). Without libhadoop
    * the stock one forks `chmod` per file and directory created and
    * `readlink` per checkpoint rename: 1,438 and 424 processes in one
    * 69 s perfbench live run of the event pipeline. Same files,
    * permissions and `.crc` checksums, so it is not a choice but a
    * fix; a session built by hand can set the same two confs.
    */
  val LocalFsConfs: Seq[(String, String)] = Seq(
    "spark.hadoop.fs.file.impl" -> classOf[LocalFs.Checked].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[LocalFs.Context].getName)

  /** Generated code shared by every query of the application, in every
    * posture (this one and `Bench.buildSession`'s). Spark 4 isolates
    * each session's artifacts, and a streaming query runs on a clone
    * of its session: with isolation on, every streaming query (each
    * drain, each restart) gets executor class loaders of its own,
    * misses the JVM-wide codegen cache, and compiles and JIT-warms
    * all its generated classes again — 17 Janino compiles per
    * perfbench drain of the event pipeline, 19 in the first batch of
    * its live run, against 0 and 2 with isolation off. graft adds no
    * session artifacts, so sharing them changes nothing else; a
    * session built by hand can set the same conf at creation.
    */
  val SharedArtifacts: (String, String) = "spark.sql.artifact.isolation.enabled" -> "false"

  /** Apply the posture to a builder. `totalCores` = executors ×
    * cores/executor (e.g. 1000 × 4). Returns the builder for
    * chaining; nothing here depends on cluster manager or deploy
    * mode.
    */
  def apply(b: SparkSession.Builder, totalCores: Int): SparkSession.Builder =
    // both registration routes: the conf string is what spark-submit
    // ships to a cluster (static conf, read at CONTEXT creation), the
    // builder-level instance is what activates the extensions when
    // this builder constructs a session over an ALREADY-RUNNING
    // SparkContext (notebooks, shared test JVMs) — there the static
    // conf on the builder is silently ignored
    b.withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.shuffle.partitions", math.max(64, totalCores * 2).toString)
      .config("spark.sql.files.maxPartitionBytes", (256L * 1024 * 1024).toString)
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config(ExcludedRules._1, ExcludedRules._2)
      .config(LocalFsConfs.toMap)
      .config(SharedArtifacts._1, SharedArtifacts._2)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")

  /** The local test twin — identical semantics-bearing settings
    * (timezone, extensions, parquet handling) at local parallelism,
    * so a plan verified here is the plan the cluster runs.
    */
  def local(cores: Int): SparkSession.Builder =
    apply(SparkSession.builder().master(s"local[$cores]"), cores)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
}
