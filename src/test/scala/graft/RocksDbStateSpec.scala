package graft

import graft.operators.EventPipeline
import graft.core.ClusterConf
import graft.streaming.StateV2

/** RocksDB state-store posture lap (VERDICT r7): ClusterConf ships
  * `spark.sql.streaming.stateStore.providerClass = RocksDB…` for the
  * 100 TB profile, so the stateful streaming jobs must produce
  * identical output under it — the provider changes WHERE state
  * lives (heap vs local disk with incremental checkpoints), never
  * what it contains. rocksdbjni ships with Spark, so this runs
  * everywhere the library runs.
  */
class RocksDbStateSpec extends SparkSpec {

  private val Key = StateV2.RocksDb._1
  private val Rocks = StateV2.RocksDb._2

  test("ClusterConf cluster profile pins the RocksDB provider") {
    val b = ClusterConf(org.apache.spark.sql.SparkSession.builder(), 4000)
    // the builder's own options, so deleting/typo-ing the
    // providerClass line in ClusterConf actually fails this test
    val pinned = ClusterConfSpec.options(b)
    assert(pinned.get("spark.sql.streaming.stateStore.providerClass")
      .contains(Rocks),
      s"cluster profile lost the RocksDB pin; builder options: ${pinned.keys.toSeq.sorted}")
    // and the pinned string must be a loadable class in this Spark
    assert(Class.forName(Rocks) != null)
  }

  test("the SST-footprint metric key exists in this Spark's RocksDB provider") {
    // ADVICE r12: the state census once read "rocksdbTotalSizeBytes",
    // which does not exist in the pinned Spark — the RocksDB branch
    // always yielded 0 and state_bytes silently fell back to
    // memoryUsedBytes. Pin the key against the provider's own
    // declared metric list so a rename fails HERE, not in a ledger.
    // the provider class is package-private to Spark at the Scala
    // level — go through java reflection (same loadability the
    // providerClass conf itself relies on)
    val cls = Class.forName(Rocks)
    val inst = cls.getDeclaredConstructor().newInstance()
    val metrics = cls.getMethod("supportedCustomMetrics").invoke(inst)
      .asInstanceOf[Seq[AnyRef]]
    val names = metrics.map(m =>
      m.getClass.getMethod("name").invoke(m).asInstanceOf[String])
    assert(names.contains(graft.tools.Probe.RocksSstMetric),
      s"provider metrics: ${names.sorted.mkString(", ")}")
  }

  test("ev46 stream compaction is provider-independent (dedup state)") {
    val default = EventPipeline.queries("ev46_stream_compact")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val rocks = StateV2.withRocksDb(spark) {
      EventPipeline.queries("ev46_stream_compact")(spark, sf)
        .collect().map(_.toSeq).toSeq
    }
    assert(spark.conf.getOption(Key).isEmpty || spark.conf.get(Key) != Rocks)
    assert(rocks === default)
  }

  test("ev51 sessionization (flatMapGroupsWithState) is provider-independent") {
    val default = EventPipeline.queries("ev51_stream_sessions")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val rocks = StateV2.withRocksDb(spark) {
      EventPipeline.queries("ev51_stream_sessions")(spark, sf)
        .collect().map(_.toSeq).toSeq
    }
    assert(rocks === default)
  }
}
