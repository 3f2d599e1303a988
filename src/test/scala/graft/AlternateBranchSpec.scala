package graft

import java.security.MessageDigest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions.col

/** Alternate-branch parity: a size-guarded builder claims its fallback
  * plan returns exactly the rows of its default plan, but at fixture
  * scale only the default branch ever runs. Each test forces the other
  * branch at sf0.001 and compares its row hash with the default
  * branch's.
  */
class AlternateBranchSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  /** (row count, SHA-256 over the sorted rows, columns in name order). */
  private def rowHash(df: DataFrame): (Int, String) = {
    val rows = df.select(df.columns.sorted.toSeq.map(col): _*).collect()
      .map(_.mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    (rows.length, md.digest().map("%02x".format(_)).mkString)
  }

  /** Names of the attributes the plan's join conditions compare. */
  private def joinKeys(df: DataFrame): Set[String] =
    df.queryExecution.optimizedPlan.collect {
      case j: Join => j.condition.toSeq.flatMap(_.references.map(_.name))
    }.flatten.toSet

  test("dsir_weights: the per-occurrence fallback returns the per-gram branch's rows") {
    val default = graft.queries.ExtQueries.dsirWeights(spark, sf)
    // a ceiling of 0 grams sends every vocabulary to the fallback
    val fallback = graft.queries.ExtQueries.dsirWeights(spark, sf, broadcastMaxGrams = 0L)
    // the branches really differ: the default joins the occurrence
    // stream on the gram, the fallback on the gram's hashed bucket
    assert(joinKeys(default).contains("gram"), default.queryExecution.optimizedPlan)
    assert(!joinKeys(fallback).contains("gram"), fallback.queryExecution.optimizedPlan)
    val (n, hash) = rowHash(default)
    assert(n > 0)
    assert(rowHash(fallback) == ((n, hash)))
  }
}
