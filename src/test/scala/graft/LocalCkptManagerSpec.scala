package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.graft.GraftLocalCheckpointFileManager

/** Pins the round-18 NIO checkpoint manager's contract: atomic
  * visibility (no partial file under the target name), the stock
  * manager's no-overwrite protocol (Hadoop FileAlreadyExistsException on
  * an existing target — the metadata logs' concurrent-writer guard),
  * cancel cleanliness, and that the stream gates' dedicated session
  * actually opts in.
  */
class LocalCkptManagerSpec extends SparkSpec {

  private def mkMgr(dir: java.nio.file.Path) =
    new GraftLocalCheckpointFileManager(
      new Path(dir.toUri), spark.sessionState.newHadoopConf())

  test("createAtomic: close renames into place, cancel leaves nothing") {
    val dir = java.nio.file.Files.createTempDirectory("ckptspec")
    val m = mkMgr(dir)
    val p = new Path(new Path(dir.toUri), "f1")
    val out = m.createAtomic(p, overwriteIfPossible = false)
    out.write("hello".getBytes)
    assert(!m.exists(p), "target visible before close")
    out.close()
    assert(m.exists(p))
    val in = m.open(p)
    val buf = new Array[Byte](5); in.readFully(buf); in.close()
    assert(new String(buf) == "hello")
    // cancel path
    val out2 = m.createAtomic(new Path(new Path(dir.toUri), "f2"), false)
    out2.write("x".getBytes); out2.cancel()
    assert(!m.exists(new Path(new Path(dir.toUri), "f2")))
    // no temp litter
    assert(m.list(new Path(dir.toUri)).map(_.getPath.getName).sorted
      .sameElements(Array("f1")))
  }

  test("no-overwrite close onto an existing target throws Hadoop's FileAlreadyExists") {
    val dir = java.nio.file.Files.createTempDirectory("ckptspec")
    val m = mkMgr(dir)
    val p = new Path(new Path(dir.toUri), "dup")
    val a = m.createAtomic(p, false); a.write("a".getBytes); a.close()
    val b = m.createAtomic(p, false); b.write("b".getBytes)
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException] { b.close() }
    // overwrite form replaces
    val c = m.createAtomic(p, true); c.write("c".getBytes); c.close()
    val in = m.open(p); assert(in.read() == 'c'.toInt); in.close()
  }

  test("the stream gates' session opts into the NIO manager") {
    // assert on the MEMOIZED CHILD session's runtime conf directly (the
    // round-18 form only checked the parent conf lacked the key and
    // succeeded vacuously — a regression dropping the conf.set in
    // withStreamSession would still have passed; round 19, ADVICE)
    val cls = "org.apache.spark.sql.execution.streaming.graft.GraftLocalCheckpointFileManager"
    val ss = graft.queries.AnalyticsQueries.streamSessionFor(spark)
    assert(ss ne spark, "the stream session must be a dedicated child")
    assert(ss.conf.getOption(
      "spark.sql.streaming.checkpointFileManagerClass").contains(cls))
    // and skips the per-commit `.checksum` sibling files
    assert(ss.conf.get(
      "spark.sql.streaming.checkpoint.fileChecksum.enabled") == "false")
    // parent conf does NOT carry it: the opt-in is scoped to the gates
    assert(!spark.sparkContext.getConf
      .contains("spark.sql.streaming.checkpointFileManagerClass"))
    // and a gate runs green end-to-end under that manager (checkpoint
    // written + read back), so the class name is load-bearing, not
    // just present
    graft.queries.AnalyticsQueries.all("hourly_avg_stream")._1(
      spark, "/root/testdata/sf0.001").collect()
    succeed
  }
}
