package graft.tools

import graft.GraftSession

/** r16 conf A/B: run named SparkEntry queries with a runtime SQLConf
  * toggled between two values, as interleaved same-JVM draws (the only
  * comparison the bench-noise discipline accepts for sub-second moves).
  *
  * Usage: runMain graft.tools.ConfProf <confKey> <valA> <valB> <q1,q2,..> [reps]
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS
  */
object ConfProf {
  def main(args: Array[String]): Unit = {
    val Array(confKey, valA, valB, qcsv) = args.take(4)
    val reps = args.lift(4).map(_.toInt).getOrElse(4)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val spark = GraftSession(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val names = qcsv.split(",").toSeq
    val qs = names.map(n => n -> graft.SparkEntry.queries(n))
    // warm once per arm (codegen, file listing)
    Seq(valA, valB).foreach { v =>
      spark.conf.set(confKey, v)
      qs.foreach { case (_, f) => f(spark, sfDir).count() }
      spark.catalog.clearCache()
    }
    val draws = scala.collection.mutable.Map.empty[(String, String), List[Double]]
      .withDefaultValue(Nil)
    (1 to reps).foreach { r =>
      Seq(valA, valB).foreach { v =>
        spark.conf.set(confKey, v)
        qs.foreach { case (n, f) =>
          spark.sparkContext.setJobDescription(s"confprof $n $confKey=$v rep $r")
          val t0 = System.nanoTime()
          f(spark, sfDir).count()
          val dt = (System.nanoTime() - t0) / 1e9
          spark.catalog.clearCache()
          draws((n, v)) = draws((n, v)) :+ dt
          println(f"""{"probe":"confprof","q":"$n","val":"$v","rep":$r,"sec":$dt%.3f}""")
        }
      }
    }
    names.foreach { n =>
      Seq(valA, valB).foreach { v =>
        val d = draws((n, v))
        println(f"""{"probe":"confprof_min","q":"$n","val":"$v","min_sec":${d.min}%.3f,"median":${d.sorted.apply(d.size / 2)}%.3f,"draws":${d.map(x => f"$x%.3f").mkString("[", ",", "]")}}""")
      }
    }
    spark.stop()
  }
}
