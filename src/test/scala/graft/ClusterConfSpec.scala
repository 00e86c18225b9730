package graft

import org.apache.spark.sql.SparkSession

class ClusterConfSpec extends SparkSpec {

  // Evaluate the shared suite session BEFORE any clear: the finally
  // blocks must restore the ORIGINAL extensions-bearing session, not
  // re-resolve the lazy val to whatever session the test just built
  // (which is exactly how a session without the AsOf strategy once
  // leaked into every suite that ran after this one).
  private def withFreshSessionSlot[A](body: => A): A = {
    val orig = spark
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try body
    finally {
      SparkSession.setDefaultSession(orig)
      SparkSession.setActiveSession(orig)
    }
  }

  test("ClusterConf.local applies the posture settings and activates the extensions") {
    withFreshSessionSlot {
      val b = graft.core.ClusterConf.local(3)
      // read off the builder: a session built over the spec JVM's
      // running SparkContext inherits the bench session's confs, so
      // it would pass even if ClusterConf stopped setting these
      val opts = ClusterConfSpec.options(b)
      // the duplicated-generator trap is excluded in the cluster
      // posture too, not only in the bench/spec session
      assert(opts.get("spark.sql.optimizer.excludedRules") ===
        Some("org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"))
      assert(opts.get("spark.sql.adaptive.enabled") === Some("true"))
      assert(opts.get("spark.sql.adaptive.skewJoin.enabled") === Some("true"))
      assert(opts.get("spark.sql.session.timeZone") === Some("UTC"))
      assert(opts.get("spark.sql.optimizer.runtime.bloomFilter.enabled") === Some("true"))
      // local files through the fork-free file system, both Hadoop APIs
      assert(opts.get("spark.hadoop.fs.file.impl") ===
        Some(classOf[graft.core.LocalFs.Checked].getName))
      assert(opts.get("spark.hadoop.fs.AbstractFileSystem.file.impl") ===
        Some(classOf[graft.core.LocalFs.Context].getName))
      // one codegen cache across the application's streaming queries
      assert(opts.get("spark.sql.artifact.isolation.enabled") === Some("false"))
      val s = b.getOrCreate()
      // the graft extensions registered on THIS session — must hold
      // even when the builder reuses an already-running SparkContext
      // (the static spark.sql.extensions conf is ignored there; the
      // builder-level withExtensions instance is what carries it)
      assert(s.sql("SELECT graft_hash64('x') AS h").head.getLong(0) >= 0L)
    }
  }

  test("ClusterConf sizes shuffle partitions to the core budget") {
    withFreshSessionSlot {
      val s = graft.core.ClusterConf
        .apply(SparkSession.builder().master("local[2]"), 4000).getOrCreate()
      assert(s.conf.get("spark.sql.shuffle.partitions") === "8000")
      assert(s.conf.get("spark.sql.files.maxPartitionBytes") ===
        (256L * 1024 * 1024).toString)
    }
  }
}

object ClusterConfSpec {

  /** A builder's accumulated options, read reflectively (there is no
    * public accessor).
    */
  def options(b: SparkSession.Builder): Map[String, String] = {
    val out = scala.collection.mutable.Map[String, String]()
    Iterator.iterate[Class[_]](b.getClass)(_.getSuperclass).takeWhile(_ != null)
      .flatMap(_.getDeclaredFields).foreach { f =>
        f.setAccessible(true)
        f.get(b) match {
          case m: scala.collection.mutable.Map[_, _] =>
            m.foreach {
              case (k: String, v: String) => out += k -> v
              case _ =>
            }
          case _ =>
        }
      }
    out.toMap
  }
}
