package graft.ops

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.QueryConfig

/** Query-registry CRUD (reference: internal/config/database_config.go;
  * SURVEY §2.1 S7/S8, §2.2 W4-W6) over a parquet-backed config table.
  *
  * Parquet has no transactional upsert, so mutations are read-modify-
  * overwrite — acceptable at config-table scale (tens of rows). Unlike a
  * naive `mode("overwrite")` of the directory being read (which loses the
  * table if the process dies mid-write), mutations go through a
  * two-phase commit: write the new table to `<path>.tmp`, swing the live
  * directory aside to `<path>.old`, rename tmp into place, drop old.
  * Every data byte lands before any metadata op touches the live path,
  * so the only crash window is between the two renames — and
  * [[loadAll]] self-heals that one by restoring `<path>.old` when the
  * live path is missing. Honest residual deviation vs the reference's
  * MySQL transactions (database_config.go:94-158): concurrent WRITERS
  * are not serialized — last rename wins; single-writer ops tooling is
  * the assumed deployment, as SURVEY §7.3 documents.
  */
final class ConfigStore(spark: SparkSession, path: String) {
  import spark.implicits._

  // resolve the filesystem from the path's own scheme (not the default
  // FS): a fully qualified file:// path under an hdfs:// default must
  // rename/delete on the local FS, where spark.read/write also resolve
  private def fs = new org.apache.hadoop.fs.Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def p(s: String) = new org.apache.hadoop.fs.Path(s)

  def loadAll(): Dataset[QueryConfig] = {
    // self-heal the rename crash window: data is always intact in .old
    if (!fs.exists(p(path)) && fs.exists(p(path + ".old")))
      fs.rename(p(path + ".old"), p(path))
    // the encoder's schema, not footer inference (a Spark job per read)
    spark.read.schema(Encoders.product[QueryConfig].schema).parquet(path)
      .as[QueryConfig]
  }

  /** S7: enabled configs, oldest first (database_config.go:11-91). The
    * table is tens of rows: one task sorts it, where `orderBy` would
    * start a range-sampling job and a shuffle.
    */
  def loadEnabled(): Dataset[QueryConfig] =
    loadAll().filter(col("enabled")).coalesce(1).sortWithinPartitions(col("query_id"))

  /** S8: single-config lookup, enabled only (cmd/repair/main.go:415-460). */
  def get(queryId: String): Option[QueryConfig] =
    loadAll().filter(col("query_id") === queryId && col("enabled"))
      .collect().headOption

  private def overwrite(ds: Dataset[QueryConfig]): Unit = {
    // materialize before touching the directory we read from
    commit(ds.collect().toSeq)
  }

  /** Two-phase commit: tmp write → live→old → tmp→live → drop old. */
  private def commit(rows: Seq[QueryConfig]): Unit = {
    val (live, tmp, old) = (p(path), p(path + ".tmp"), p(path + ".old"))
    fs.delete(tmp, true); fs.delete(old, true) // debris from a prior crash
    spark.createDataset(rows).coalesce(1)
      .write.mode("overwrite").parquet(tmp.toString)
    if (fs.exists(live)) require(fs.rename(live, old), s"cannot set aside $live")
    require(fs.rename(tmp, live), s"cannot commit $tmp -> $live")
    fs.delete(old, true)
  }

  def init(configs: Seq[QueryConfig]): Unit = commit(configs)

  /** W4: upsert on query_id (INSERT .. ON DUPLICATE KEY UPDATE,
    * database_config.go:94-158).
    */
  def upsert(cfg: QueryConfig): Unit = {
    val others = loadAll().filter(col("query_id") =!= cfg.query_id)
    overwrite(others.union(spark.createDataset(Seq(cfg))))
  }

  /** W5: delete; error when the id doesn't exist (database_config.go:161-179). */
  def delete(queryId: String): Unit = {
    val all = loadAll().collect().toSeq
    require(all.exists(_.query_id == queryId), s"no such query config: $queryId")
    init(all.filterNot(_.query_id == queryId))
  }

  /** W6: enable/disable toggle (database_config.go:182-200). */
  def setEnabled(queryId: String, enabled: Boolean): Unit = {
    val all = loadAll().collect().toSeq
    require(all.exists(_.query_id == queryId), s"no such query config: $queryId")
    init(all.map(c => if (c.query_id == queryId) c.copy(enabled = enabled) else c))
  }
}
