package graft

/** Job-count profiler for a registered query — the audit device VERDICT
  * r13 asked for on the `weak`-graded rows: at small SF the suspicion
  * is that a row's wall time is O(jobs)·(fixed per-job floor), not
  * O(data), and the proof is the job count itself. Runs the query
  * twice (the bench convention) inside a job group and reads the
  * public status tracker for jobs/stages/tasks, printing one JSON line
  * per run plus the implied per-job floor.
  *
  * usage: runMain graft.Profile <query>[,query2,...] [sfDir]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Profile <query>[,query2,...] [sfDir]")
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = GraftSession.getOrCreate()
    val reg = SparkEntry.queries ++ SparkEntry.benchQueries
    // warm the session so run 1 is not charged for JVM startup
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }

    val sc = spark.sparkContext
    val tracker = sc.statusTracker
    names.foreach { name =>
      val fn = reg.getOrElse(name,
        throw new IllegalArgumentException(s"unknown query: $name"))
      (1 to 2).foreach { run =>
        val group = s"graft-profile-$name-$run"
        sc.setJobGroup(group, s"profile $name run $run")
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        sc.clearJobGroup()
        val jobIds = tracker.getJobIdsForGroup(group)
        val jobs = jobIds.length
        val stageIds = jobIds.flatMap(j =>
          tracker.getJobInfo(j).map(_.stageIds.toSeq).getOrElse(Seq.empty))
        val tasks = stageIds.distinct.flatMap(s =>
          tracker.getStageInfo(s).map(_.numTasks)).sum
        val floor = if (jobs > 0) sec / jobs else 0.0
        println(f"""{"query":"$name","run":$run,"sec":$sec%.3f,"jobs":$jobs,"stages":${stageIds.distinct.length},"tasks":$tasks,"sec_per_job":$floor%.3f}""")
      }
    }
    spark.stop()
  }
}
