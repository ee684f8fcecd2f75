package graft

import org.apache.spark.sql.functions._

class QueryProfileSpec extends SparkSpec {

  test("profile: shuffle query reports scan input, shuffle volumes, and task counts") {
    val li = graft.sources.Tables.lineitem(spark, sf)
    val q = li.groupBy("l_suppkey").agg(sum("l_quantity").as("s"))
    val (n, prof) = operators.QueryProfile.profile(q)
    assert(n == li.select("l_suppkey").distinct().count())
    val rows = prof.collect()
    assert(rows.length >= 2, s"expected scan + reduce stages, got ${rows.length}")
    // the scan stage read the whole table
    assert(rows.map(_.getAs[Long]("inputRecords")).sum >= li.count())
    // the map side wrote what the reduce side read
    val written = rows.map(_.getAs[Long]("shuffleWriteRecords")).sum
    val read = rows.map(_.getAs[Long]("shuffleReadRecords")).sum
    assert(written > 0, "groupBy produced no shuffle write")
    assert(read == written, s"shuffle read $read != write $written")
    rows.foreach(r => assert(r.getAs[Int]("numTasks") > 0))
  }

  test("profile: a scan-only count shuffles partial counts only, never data") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val (n, prof) = operators.QueryProfile.profile(docs)
    val rows = prof.collect()
    assert(n == docs.count())
    // count() exchanges one partial-count row per map task — metadata
    // scale, not data scale
    val written = rows.map(_.getAs[Long]("shuffleWriteRecords")).sum
    assert(written <= rows.map(_.getAs[Int]("numTasks")).max)
    assert(rows.map(_.getAs[Long]("shuffleWriteBytes")).sum < 10240L)
  }

  test("record: eager checkpoints are construction, and a stream row's jobs all count") {
    import operators.QueryProfile.{Construct, Exec, record}
    val ckpt = (j: operators.QueryProfile.Job) => j.name.startsWith("localCheckpoint at ")
    val (n, rec) = record(spark)(
      spark.range(1000).localCheckpoint().groupBy((col("id") % 7).as("k")).count())(_.count())
    assert(n == 7L)
    assert(rec.jobsIn(Construct).exists(ckpt), rec.jobs)
    assert(!rec.jobsIn(Exec).exists(ckpt), rec.jobs)
    assert(rec.jobsIn(Exec).nonEmpty, rec.jobs)
    // the replay runs its micro-batches under the stream's own job
    // group while the row is built; the sorted result runs at exec
    val (_, stream) = record(spark)(SparkEntry.queries("stream_tumbling_agg")(spark, sf))(_.collect())
    assert(stream.jobsIn(Exec).nonEmpty, stream.jobs)
    assert(stream.jobsIn(Construct).exists(_.stream), stream.jobs)
  }
}
