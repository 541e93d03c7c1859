package graft

/** [[Profile.recording]] sees every job its body starts. */
class ProfileSpec extends SparkSpec {

  test("a job with no stages is recorded, with an empty name and entry") {
    // an empty RDD has no partitions, so its action's job has no stage
    val (_, rec) = Profile.recording(spark) {
      spark.sparkContext.emptyRDD[Int].collect()
      spark.sparkContext.parallelize(Seq(1, 2), 2).count()
    }
    assert(rec.jobs.size == 2, rec.jobs)
    val Seq(empty, counted) = rec.jobs
    assert(empty.name == "" && empty.entry == "", empty)
    assert(counted.name.startsWith("count at"), counted)
  }
}
