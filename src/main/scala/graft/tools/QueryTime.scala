package graft.tools

/** Per-query timing outside the Bench sweep: runs the named SparkEntry
  * queries in a Bench-identical session ([[BenchSession]]: same builder,
  * same table and engine warm-ups, a scrub before each query, the same
  * [[BenchSession.timeOnce]]) and prints, per query, every run's seconds
  * with its steal verdict, then the block-manager storage still held after
  * the runs — orphaned localCheckpoint blocks that survive
  * PerAppCache.evictAll show up there before they slow a later query.
  *
  * Usage: sbt "runMain graft.tools.QueryTime <sfDir> <runs> [q1,q2,...]"
  * With no query list every registered query runs, in name order.
  */
object QueryTime {
  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3,
      "usage: QueryTime <sfDir> <runs> [q1,q2,...]")
    val sfDir = args(0)
    val runs = args(1).toInt
    val names = args.lift(2).fold(graft.SparkEntry.queries.keys.toSeq.sorted)(
      _.split(",").toSeq)
    val spark = BenchSession.open()
    BenchSession.warmTables(spark, sfDir)
    BenchSession.warmEngine(spark, sfDir)
    val sc = spark.sparkContext
    names.foreach { name =>
      graft.SparkEntry.queries.get(name) match {
        case None => println(s"[time] $name: not registered")
        case Some(fn) =>
          // scrub before each query's runs (the Bench discipline): run 1
          // is a true cold that pays its own cache builds, not its
          // predecessors' garbage; later runs are warm
          BenchSession.scrub()
          val times = (1 to runs).map { _ =>
            val (t, ok, stolen) = BenchSession.timeOnce(name, fn, spark, sfDir)
            if (!ok) "failed" else f"$t%.3f" + (if (stolen) "(stolen)" else "")
          }
          val mb = sc.getRDDStorageInfo.map(_.memSize).sum / 1048576
          println(s"[time] $name: ${times.mkString(" ")} " +
            s"persistentRDDs=${sc.getPersistentRDDs.size} storageMB=$mb")
      }
    }
    spark.stop()
  }
}
