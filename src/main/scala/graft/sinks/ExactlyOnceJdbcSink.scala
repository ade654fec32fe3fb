package graft.sinks

import java.sql.{Connection, DriverManager}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Exactly-once JDBC sink — the reference's `jdbc2` streaming sink
  * protocol re-implemented against embedded Derby (SURVEY.md §2 W4,
  * reference `emr-jdbc/src/main/scala/.../JdbcSink.scala:50-276`,
  * `JDBCSinkLog.scala:46-133`).
  *
  * Protocol per micro-batch:
  *  1. sink-log status table records (table, batchId, status);
  *  2. a COMMITTED batchId is skipped outright (replay after successful
  *     commit — at-most-once on the retry path);
  *  3. a PENDING batchId triggers crash recovery before rewriting
  *     (`JDBCSinkLog.deleteIncompleteBatch`, `JDBCSinkLog.scala:100-126`):
  *     two-phase mode drops the batch's temp tables, direct mode deletes
  *     target rows tagged with the batch id;
  *  4. two-phase mode (`JdbcSink.scala:176-276`): each partition writes
  *     its own temp table, then the driver moves all temp tables into the
  *     target AND flips the log to COMMITTED in one transaction — the
  *     write becomes visible exactly when the batch commits;
  *  5. direct mode (`JdbcSink.scala:117-175`): partitions insert straight
  *     into the target with a `batch_id` column, recovery deletes by it.
  *
  * At 1000-executor scale the temp tables act as per-task staging: no
  * cross-task coordination until the single driver-side commit, and a
  * retried task truncates its own temp table first (idempotent).
  */
object ExactlyOnceJdbcSink {

  private val LogTable = "GRAFT_SINK_LOG"
  val BatchIdCol = "GRAFT_BATCH_ID"

  private def connect(url: String): Connection = DriverManager.getConnection(url)

  private def tableExists(c: Connection, name: String): Boolean = {
    val rs = c.getMetaData.getTables(null, null, name.toUpperCase, null)
    try rs.next() finally rs.close()
  }

  private def sqlType(dt: DataType): String = dt match {
    case LongType => "BIGINT"
    case IntegerType => "INTEGER"
    case DoubleType => "DOUBLE"
    case FloatType => "REAL"
    case BooleanType => "BOOLEAN"
    case StringType => "VARCHAR(32672)"
    case TimestampType | TimestampNTZType => "TIMESTAMP"
    case DateType => "DATE"
    case other => throw new IllegalArgumentException(s"unsupported sink type $other")
  }

  private def ddlColumns(schema: StructType): String =
    schema.fields.map(f => s"${f.name} ${sqlType(f.dataType)}").mkString(", ")

  private def ensureLogTable(c: Connection): Unit =
    if (!tableExists(c, LogTable)) {
      c.createStatement().executeUpdate(
        s"CREATE TABLE $LogTable (sink_table VARCHAR(128) NOT NULL, " +
          "batch_id BIGINT NOT NULL, status VARCHAR(16) NOT NULL, " +
          "PRIMARY KEY (sink_table, batch_id))")
    }

  private def status(c: Connection, table: String, batchId: Long): Option[String] = {
    val ps = c.prepareStatement(
      s"SELECT status FROM $LogTable WHERE sink_table = ? AND batch_id = ?")
    ps.setString(1, table); ps.setLong(2, batchId)
    val rs = ps.executeQuery()
    try { if (rs.next()) Some(rs.getString(1)) else None } finally rs.close()
  }

  private def setStatus(c: Connection, table: String, batchId: Long, st: String): Unit = {
    val up = c.prepareStatement(
      s"UPDATE $LogTable SET status = ? WHERE sink_table = ? AND batch_id = ?")
    up.setString(1, st); up.setString(2, table); up.setLong(3, batchId)
    if (up.executeUpdate() == 0) {
      val ins = c.prepareStatement(s"INSERT INTO $LogTable VALUES (?, ?, ?)")
      ins.setString(1, table); ins.setLong(2, batchId); ins.setString(3, st)
      ins.executeUpdate()
    }
  }

  private def listTempTables(c: Connection, table: String, batchId: Long): Seq[String] = {
    val rs = c.getMetaData.getTables(null, null, s"TMP_${table.toUpperCase}_${batchId}_%", null)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    try { while (rs.next()) out += rs.getString("TABLE_NAME") } finally rs.close()
    out.toSeq
  }

  private def insertRows(c: Connection, table: String, schema: StructType,
      rows: Iterator[Row], extraBatchId: Option[Long]): Unit = {
    val cols = schema.fieldNames ++ extraBatchId.map(_ => BatchIdCol)
    val ph = cols.map(_ => "?").mkString(", ")
    val ps = c.prepareStatement(s"INSERT INTO $table (${cols.mkString(", ")}) VALUES ($ph)")
    var n = 0
    rows.foreach { row =>
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        if (row.isNullAt(i)) ps.setNull(i + 1, java.sql.Types.NULL)
        else f.dataType match {
          case LongType => ps.setLong(i + 1, row.getLong(i))
          case IntegerType => ps.setInt(i + 1, row.getInt(i))
          case DoubleType => ps.setDouble(i + 1, row.getDouble(i))
          case FloatType => ps.setFloat(i + 1, row.getFloat(i))
          case BooleanType => ps.setBoolean(i + 1, row.getBoolean(i))
          case StringType => ps.setString(i + 1, row.getString(i))
          case TimestampType => ps.setTimestamp(i + 1, row.getTimestamp(i))
          case TimestampNTZType =>
            ps.setTimestamp(i + 1, java.sql.Timestamp.valueOf(row.getAs[java.time.LocalDateTime](i)))
          case DateType => ps.setDate(i + 1, row.getDate(i))
          case other => throw new IllegalArgumentException(s"unsupported $other")
        }
      }
      extraBatchId.foreach(b => ps.setLong(schema.length + 1, b))
      ps.addBatch()
      n += 1
      if (n % 500 == 0) ps.executeBatch()
    }
    ps.executeBatch()
  }

  /** Write one micro-batch exactly-once. Returns false if the batch was
    * already committed (skip), true if written.
    */
  def addBatch(url: String, table: String, batchId: Long, df: DataFrame,
      twoPhase: Boolean = true): Boolean = {
    val schema = df.schema
    val driver = connect(url)
    try {
      ensureLogTable(driver)
      if (!tableExists(driver, table)) {
        val extra = if (twoPhase) "" else s", $BatchIdCol BIGINT"
        driver.createStatement().executeUpdate(
          s"CREATE TABLE $table (${ddlColumns(schema)}$extra)")
      }
      status(driver, table, batchId) match {
        case Some("COMMITTED") => return false // replay of a done batch
        case Some("PENDING") => // crash recovery — JDBCSinkLog.scala:100-126
          if (twoPhase) listTempTables(driver, table, batchId)
            .foreach(t => driver.createStatement().executeUpdate(s"DROP TABLE $t"))
          else driver.createStatement()
            .executeUpdate(s"DELETE FROM $table WHERE $BatchIdCol = $batchId")
        case None =>
      }
      setStatus(driver, table, batchId, "PENDING")

      if (twoPhase) {
        val ddl = ddlColumns(schema)
        // an empty partition stages nothing: no temp table to create,
        // fill, move or drop (recovery above already dropped any stale one)
        df.foreachPartition { (rows: Iterator[Row]) =>
          if (rows.hasNext) {
            val tmp = s"TMP_${table.toUpperCase}_${batchId}_${TaskContext.getPartitionId()}"
            val c = connect(url)
            try {
              // task retry: rebuild this partition's temp table from scratch
              if (tableExists(c, tmp))
                c.createStatement().executeUpdate(s"DROP TABLE $tmp")
              c.createStatement().executeUpdate(s"CREATE TABLE $tmp ($ddl)")
              insertRows(c, tmp, schema, rows, None)
            } finally c.close()
          }
        }
        // single transaction: move staged rows + flip the log entry
        val staged = listTempTables(driver, table, batchId)
        driver.setAutoCommit(false)
        try {
          staged.foreach(t => driver.createStatement().executeUpdate(
            s"INSERT INTO $table SELECT * FROM $t"))
          setStatus(driver, table, batchId, "COMMITTED")
          driver.commit()
        } catch {
          case e: Throwable => driver.rollback(); throw e
        } finally driver.setAutoCommit(true)
        staged.foreach(t => driver.createStatement().executeUpdate(s"DROP TABLE $t"))
      } else {
        df.foreachPartition { (rows: Iterator[Row]) =>
          val c = connect(url)
          try insertRows(c, table, schema, rows, Some(batchId)) finally c.close()
        }
        setStatus(driver, table, batchId, "COMMITTED")
      }
      true
    } finally driver.close()
  }

  /** foreachBatch adapter:
    * {{{ stream.writeStream.foreachBatch(ExactlyOnceJdbcSink.writer(url, "t")) }}}
    */
  def writer(url: String, table: String, twoPhase: Boolean = true)
      : (DataFrame, Long) => Unit =
    (df, batchId) => { addBatch(url, table, batchId, df, twoPhase); () }
}
