package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.cdc.Cdc
import graft.sources.ParquetIO

/** Gate entries that read through the engine's own DSv2 sources (kv /
  * log / cdc) instead of the vanilla parquet reader — proving the scan,
  * pushdown, offset-range, raw-JSON and CDC-apply surfaces against the
  * DuckDB oracle on the same files.
  */
object SourceQueries {

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1–S3: kv scan with filter pushdown + column pruning + agg.
    "q_kv_scan" -> ((s, dir) => {
      s.read.format("kv").option("path", s"$dir/lineitem.parquet").load()
        .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp_ntz") &&
          col("l_returnflag") === "R")
        .groupBy(col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice")), 2).as("total"))
        .orderBy(col("l_linestatus"))
    }),

    // S4: log batch scan (typed mode) over the events shard — note the
    // nanosecond-timestamp shard is readable natively by our source.
    "q_log_scan" -> ((s, dir) => {
      s.read.format("log").option("path", s"$dir/events.parquet").load()
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("event_type"))
    }),

    // T3-raw: log scan in raw JSON mode, fields re-extracted (the
    // reference's default-schema __value__ discipline).
    "q_log_raw_json" -> ((s, dir) => {
      s.read.format("log").option("path", s"$dir/events.parquet")
        .option("schema.mode", "raw").load()
        .select(get_json_object(col("__value__"), "$.event_type").as("event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    }),

    // U4 SQL surface: the reference corpus's TUMBLING spelling running as
    // actual SQL text (q101.sql:33 shape) against the events table.
    "q_sql_tumbling" -> ((s, dir) => {
      graft.streaming.GraftSqlExtensions.registerFunctions(s)
      graft.Tables.load(s, dir, "events").createOrReplaceTempView("events_v")
      s.sql(
        """SELECT unix_timestamp(w.start) AS w_start, event_type,
          |  count(*) AS n, round(sum(value), 2) AS sum_value
          |FROM (SELECT tumbling(ts, interval 2 minutes) AS w, event_type, value
          |      FROM events_v)
          |GROUP BY w.start, event_type
          |ORDER BY w_start, event_type""".stripMargin)
    }),

    // The reference's pure-SQL streaming-table surface
    // (emr-baseline-testing/queries/q3.sql:12-21 shape): CREATE TABLE ...
    // USING <source> OPTIONS(..., output.mode), SET query name +
    // checkpoint, INSERT INTO driving a Structured Streaming query — the
    // whole job is SQL text. The sink is then read back for the oracle.
    "q_sql_stream_insert" -> ((s, dir) => {
      val uid = java.util.UUID.randomUUID().toString.replace("-", "")
      val sink = s"/tmp/graft_sqlsink_$uid/t"
      val ckpt = s"/tmp/graft_sqlck_$uid"
      graft.streaming.GraftSql.runScript(s,
        s"""DROP TABLE IF EXISTS g_stream_events;
           |CREATE TABLE g_stream_events
           |USING log OPTIONS (path '$dir/events.parquet');
           |DROP TABLE IF EXISTS g_stream_sink;
           |CREATE TABLE g_stream_sink
           |USING kv OPTIONS (
           |  path '$sink',
           |  output.mode 'complete',
           |  catalog '{"columns": {"event_type": {"type": "string"}, "n": {"type": "long"}, "sum_value": {"type": "double"}}}');
           |SET streaming.query.name=g_sql_job;
           |SET spark.sql.streaming.checkpointLocation.g_sql_job=$ckpt;
           |INSERT INTO g_stream_sink
           |SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
           |FROM g_stream_events GROUP BY event_type""".stripMargin)
      s.read.format("kv").option("path", sink).load().orderBy(col("event_type"))
    }),

    // S1 type fidelity: wide decimal (p>18, FIXED_LEN_BYTE_ARRAY),
    // ArrayType/MapType/struct columns AND recursive nesting
    // (array-of-struct, struct-of-struct, map-of-struct) round-tripped
    // through the kv source — the reference's richest ODPS type mapping
    // (OdpsUtils.scala:398-457,517-554 recurses arbitrarily).
    "q_kv_wide_types" -> ((s, dir) => {
      val safe = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val staged = s"/tmp/graft_widetypes3$safe"
      graft.Tables.stageOnce(staged) {
        graft.Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey"),
            col("l_extendedprice").cast("decimal(28,4)").as("price_wide"),
            array(col("l_quantity"), col("l_discount")).as("qd"),
            map(lit("q"), col("l_quantity"), lit("d"), col("l_discount")).as("qd_map"),
            struct(col("l_returnflag").as("rf"), col("l_linestatus").as("ls")).as("meta"),
            array(struct(col("l_quantity").as("q"), col("l_discount").as("d"))).as("items"),
            struct(struct(col("l_returnflag").as("rf"), col("l_linestatus").as("ls"))
              .as("inner"), col("l_linestatus").as("mode")).as("meta2"),
            map(lit("m"), struct(col("l_quantity").as("q"), col("l_discount").as("d")))
              .as("props"))
          .write.format("kv").option("path", staged).mode("overwrite").save()
      }
      // group by a struct-of-struct field, multiply array/map elements and
      // array-of-struct / map-of-struct fields: every nested shape is
      // exercised after the round-trip
      s.read.format("kv").option("path", staged).load()
        .groupBy(col("meta2.inner.rf").as("rf"))
        .agg(count(lit(1)).as("n"),
          sum(col("price_wide")).cast("double").as("sum_price"),
          round(sum(element_at(col("qd"), 1) * (lit(1) - col("qd_map").getItem("d"))), 2)
            .as("disc_qty"),
          round(sum(element_at(col("items"), 1).getField("q") *
            (lit(1) - col("props").getItem("m").getField("d"))), 2)
            .as("disc_qty_deep"))
        .orderBy(col("rf"))
    }),

    // T12/T13: queue source end-to-end — one message file per nation row
    // (producer-chosen names, arbitrary bytes), drained as a streaming
    // query with Trigger.AvailableNow, acknowledged on commit. The sink
    // is read back and the payloads parsed for the oracle compare.
    "q_queue_drain" -> ((s, dir) => {
      val u = java.util.UUID.randomUUID().toString.replace("-", "")
      val qdir = s"/tmp/graft_queue_$u"
      val sink = s"/tmp/graft_queuesink_$u/t"
      val ckpt = s"/tmp/graft_queueck_$u"
      val fs = new org.apache.hadoop.fs.Path(qdir).getFileSystem(ParquetIO.hadoopConf)
      fs.mkdirs(new org.apache.hadoop.fs.Path(qdir))
      graft.Tables.load(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name")).collect().foreach { r =>
          val out = fs.create(new org.apache.hadoop.fs.Path(qdir, s"msg-${r.get(0)}"))
          out.write(s"${r.get(0)},${r.getString(1)}".getBytes("UTF-8"))
          out.close()
        }
      val q = s.readStream.format("queue").option("path", qdir).load()
        .select(
          split(col("payload").cast("string"), ",").getItem(0).cast("long").as("n_nationkey"),
          split(col("payload").cast("string"), ",").getItem(1).as("n_name"))
        .writeStream.format("kv").option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // W2/W5 sink-replay, in-gate: re-deliver the last committed epoch
      // through the streaming writer machinery. (epoch, partition)-
      // deterministic file names in overwrite mode + the commit marker
      // make the replay a no-op; any duplication fails the nation oracle
      // on the read-back below.
      locally {
        import org.apache.spark.sql.types._
        val sinkSchema = StructType(Seq(
          StructField("n_nationkey", LongType), StructField("n_name", StringType)))
        val epochRe = "epoch-(\\d+)-part-(\\d+).*".r
        val efiles = ParquetIO.listFiles(sink).flatMap { f =>
          f.getName match {
            case epochRe(e, p) => Some((f, e.toLong, p.toInt))
            case _ => None
          }
        }
        val maxE = efiles.map(_._2).max
        val factory = graft.sources.kv.KvStreamingWriterFactory(sink, sinkSchema)
        val msgs = efiles.filter(_._2 == maxE).map { case (f, e, p) =>
          val rows = {
            val it = ParquetIO.readFile(f, sinkSchema)
            try it.map(_.copy()).toVector finally it.close()
          }
          val w = factory.createWriter(p, 0L, e)
          rows.foreach(w.write)
          w.commit()
        }
        new graft.sources.kv.KvStreamingWrite(sink, sinkSchema)
          .commit(maxE, msgs.toArray)
      }
      s.read.format("kv").option("path", sink).load().orderBy(col("n_nationkey"))
    }),

    // S6: schema-less kv read — no catalog option; the schema comes from
    // the persisted `_meta/schema.json` sidecar (recorded on every
    // committed write) or the union of all file footers. The second
    // append carries an attribute (o_custkey) the first file set lacks:
    // first-file inference would lose it; here it must be visible and
    // read as NULL on first-append rows.
    "q_kv_infer" -> ((s, dir) => {
      val safe = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val staged = s"/tmp/graft_infer$safe"
      graft.Tables.stageOnce(staged) {
        val o = graft.Tables.load(s, dir, "orders")
        o.where(col("o_orderkey") % 3 === 0)
          .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
          .write.format("kv").option("path", staged).mode("overwrite").save()
        o.where(col("o_orderkey") % 3 === 1)
          .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
            col("o_custkey"))
          .write.format("kv").option("path", staged).mode("append").save()
      }
      s.read.format("kv").option("path", staged).load()
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          count(col("o_custkey")).as("n_cust"),
          round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("o_orderpriority"))
    }),

    // Streaming-table time travel: three committed epochs (nation split
    // by key mod 3) plus a TORN fourth epoch (files on disk, no commit
    // marker). `snapshot.epoch = 1` must read epochs 0..1 only — the
    // sink's commit markers double as the snapshot log, and the torn
    // epoch stays invisible to every read.
    "q_kv_time_travel" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
      import org.apache.spark.unsafe.types.UTF8String
      val safe = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val root = s"/tmp/graft_tt$safe"
      ParquetIO.deletePath(root)
      val sink = s"$root/t"
      val sinkSchema = StructType(Seq(
        StructField("n_nationkey", LongType), StructField("n_name", StringType)))
      val rows = graft.Tables.load(s, dir, "nation")
        .select(col("n_nationkey").cast("long"), col("n_name")).collect()
      val factory = graft.sources.kv.KvStreamingWriterFactory(sink, sinkSchema)
      val write = new graft.sources.kv.KvStreamingWrite(sink, sinkSchema)
      (0L to 2L).foreach { e =>
        val w = factory.createWriter(0, 0L, e)
        rows.filter(_.getLong(0) % 3 == e).foreach { r =>
          w.write(new GenericInternalRow(Array[Any](
            r.getLong(0), UTF8String.fromString(r.getString(1)))))
        }
        write.commit(e, Array(w.commit()))
      }
      locally { // torn epoch 3: no marker — must not surface anywhere
        val w = factory.createWriter(0, 0L, 3L)
        w.write(new GenericInternalRow(Array[Any](
          999L, UTF8String.fromString("TORN"))))
        w.commit()
      }
      s.read.format("kv").option("path", sink).option("snapshot.epoch", "1")
        .load().orderBy(col("n_nationkey"))
    }),

    // Marker-aware snapshot retention, end to end: epoch-stamped history
    // (0..2), a row-level UPDATE whose marker records the epoch
    // watermark, then compactMarkers folds the marker into base state
    // while RECORDING the retention floor — time travel below the
    // watermark refuses BEFORE compaction (marker check) and keeps
    // refusing AFTER it (floor check), because the replaced bytes are
    // gone and history below the floor is not reconstructible. Both
    // refusals are asserted in-gate; the returned rows are the current
    // state with an exact oracle.
    "q_kv_marker_retention" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
      import org.apache.spark.unsafe.types.UTF8String
      val safe = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val root = s"/tmp/graft_mret$safe"
      ParquetIO.deletePath(root)
      val sink = s"$root/t"
      val sinkSchema = StructType(Seq(
        StructField("n_nationkey", LongType), StructField("n_name", StringType)))
      val rows = graft.Tables.load(s, dir, "nation")
        .select(col("n_nationkey").cast("long"), col("n_name")).collect()
      val factory = graft.sources.kv.KvStreamingWriterFactory(sink, sinkSchema)
      val write = new graft.sources.kv.KvStreamingWrite(sink, sinkSchema)
      (0L to 2L).foreach { e =>
        val w = factory.createWriter(0, 0L, e)
        rows.filter(_.getLong(0) % 3 == e).foreach { r =>
          w.write(new GenericInternalRow(Array[Any](
            r.getLong(0), UTF8String.fromString(r.getString(1)))))
        }
        write.commit(e, Array(w.commit()))
      }
      s.sql(s"UPDATE kvcat.`$sink` SET n_name = 'RETIRED' WHERE n_nationkey % 5 = 0")
      def travelTo(epoch: Long): Either[Throwable, Long] =
        scala.util.Try(s.read.format("kv").option("path", sink)
          .option("snapshot.epoch", epoch.toString).load().count()).toEither
      // BEFORE compaction: the rlo marker's watermark (2) gates epoch 1
      travelTo(1L) match {
        case Left(e) => require(e.getMessage.contains("row-level operation"),
          s"pre-compaction refusal had the wrong cause: ${e.getMessage}")
        case Right(n) => throw new IllegalStateException(
          s"snapshot below the rlo watermark served $n rows instead of refusing")
      }
      val folded = graft.operators.KvMerge.compactMarkers(sink)
      require(folded >= 1, s"expected >= 1 folded marker, got $folded")
      // AFTER compaction: the marker is gone; the recorded floor gates
      travelTo(1L) match {
        case Left(e) => require(e.getMessage.contains("compacted row-level history"),
          s"post-compaction refusal had the wrong cause: ${e.getMessage}")
        case Right(n) => throw new IllegalStateException(
          s"snapshot below the retention floor served $n rows instead of refusing")
      }
      s.read.format("kv").option("path", sink).option("snapshot.epoch", "2")
        .load().orderBy(col("n_nationkey"))
    }),

    // Predicate DELETE + UPDATE (the retention / GDPR maintenance
    // surface): stage orders as a kv table, delete the '1-URGENT'
    // priority, discount every totalprice above 200k by 10%, read back
    // aggregated — the oracle applies the same DML to the raw table.
    "q_kv_dml" -> ((s, dir) => {
      val safe = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val staged = s"/tmp/graft_dml$safe"
      ParquetIO.deletePath(staged)
      graft.Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .write.format("kv").option("path", staged).mode("overwrite").save()
      graft.operators.KvMerge.deleteWhere(s, staged,
        col("o_orderpriority") === "1-URGENT")
      graft.operators.KvMerge.updateWhere(s, staged,
        col("o_totalprice") > 200000.0,
        Map("o_totalprice" -> (col("o_totalprice") * 0.9)))
      s.read.format("kv").option("path", staged).load()
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("o_orderpriority"))
    }),

    // `_file` metadata column (the lakehouse input_file_name): stage 8
    // files, read back with per-row file provenance — the audit proves
    // the reader attributes every row to a distinct real file. Exact
    // per-file row placement is layout-dependent, so the oracle pins the
    // layout-free truths: 8 distinct files, every row attributed.
    "q_kv_file_audit" -> ((s, dir) => {
      val safe = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val staged = s"/tmp/graft_filecol$safe"
      graft.Tables.stageOnce(staged) {
        graft.Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
          .repartition(8)
          .write.format("kv").option("path", staged).mode("overwrite").save()
      }
      s.read.format("kv").option("path", staged).load()
        .select(col("_file"), col("o_orderkey"))
        .agg(countDistinct(col("_file")).as("n_files"),
          count(lit(1)).as("n_rows"),
          count(col("_file")).as("n_attributed"))
    }),

    // SQL UPDATE through the kv catalog (the row-level-operation twin of
    // q_kv_merge_into): expression assignments referencing other
    // columns, three-valued WHERE semantics — the oracle applies the
    // same update as plain SQL. Exact double addition (engine-stable).
    "q_kv_update_sql" -> ((s, dir) => {
      val safe = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val staged = s"/tmp/graft_updsql$safe"
      ParquetIO.deletePath(staged)
      graft.Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("c_custkey"),
          col("c_acctbal"), col("c_mktsegment"))
        .write.format("kv").option("path", staged).mode("overwrite").save()
      s.sql(s"""UPDATE kvcat.`$staged`
                |SET c_acctbal = c_acctbal + CAST(c_custkey AS DOUBLE),
                |    c_mktsegment = concat(c_mktsegment, '+')
                |WHERE c_custkey % 7 = 0 AND c_acctbal > 0.0""".stripMargin)
      s.read.format("kv").option("path", staged).load()
        .orderBy(col("c_custkey"))
    }),

    // SQL MERGE INTO through the kv catalog (SupportsRowLevelOperations,
    // group-based copy-on-write): matched-update, matched-delete and
    // not-matched-insert clauses in one statement against a staged
    // customer table; the oracle replays the merge as plain SQL algebra.
    // Assignment arithmetic is an exact double ADDITION (bit-identical
    // across engines — no round() on halves).
    "q_kv_merge_into" -> ((s, dir) => {
      val safe = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val staged = s"/tmp/graft_mergeinto$safe"
      ParquetIO.deletePath(staged)
      graft.Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("c_custkey"),
          col("c_acctbal"), col("c_mktsegment"))
        .write.format("kv").option("path", staged).mode("overwrite").save()
      graft.Tables.load(s, dir, "customer")
        .where(col("c_custkey") % 3 === 0)
        .select(col("c_custkey").cast("long").as("k"),
          (col("c_acctbal") + 1000.0).as("new_bal"),
          when(col("c_custkey") % 10 === 0, "del").otherwise("upd").as("op"))
        .unionByName(graft.Tables.load(s, dir, "customer")
          .where(col("c_custkey") % 50 === 0)
          .select((col("c_custkey").cast("long") + 1000000L).as("k"),
            lit(0.0).as("new_bal"), lit("ins").as("op")))
        .createOrReplaceTempView("mi_changes")
      s.sql(
        s"""MERGE INTO kvcat.`$staged` t USING mi_changes c ON t.c_custkey = c.k
           |WHEN MATCHED AND c.op = 'del' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET c_acctbal = c.new_bal
           |WHEN NOT MATCHED THEN INSERT (c_custkey, c_acctbal, c_mktsegment)
           |  VALUES (c.k, c.new_bal, 'NEW')
           |""".stripMargin)
      s.read.format("kv").option("path", staged).load()
        .orderBy(col("c_custkey"))
    }),

    // Bloom-sidecar point lookup: orders scattered UNSORTED over 8 files
    // (min/max zones span the whole key domain — useless), per-file
    // Bloom filters on the key built once, then an IN lookup incl. an
    // absent key. Values must equal the raw-table oracle; KvBloomSpec
    // asserts the files actually pruned.
    "q_kv_bloom_prune" -> ((s, dir) => {
      val safe = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val staged = s"/tmp/graft_bloom$safe"
      graft.Tables.stageOnce(staged) {
        graft.Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .repartition(8)
          .write.format("kv").option("path", staged).mode("overwrite").save()
        graft.sources.kv.KvBloom.build(s, staged, Seq("o_orderkey"))
      }
      s.read.format("kv").option("path", staged).load()
        .filter(col("o_orderkey").isin(1L, 2L, 3L, 999999999L))
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // Incremental Bloom maintenance: build covers wave 1; wave 2's kv
    // write lands in the live sidecar at its own commit, so
    // KvBloom.append finds it covered (append hashes files from other
    // writers through the maintenance.files allowlist scan — KvBloomSpec
    // and KvWriterSidecarSpec pin both paths). Point lookups straddle
    // both waves through the merged sidecar; a merge hole loses rows
    // against the oracle.
    "q_kv_bloom_append" -> ((s, dir) => {
      val safe = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val staged = s"/tmp/graft_bloomapp$safe"
      graft.Tables.stageOnce(staged) {
        val cust = graft.Tables.load(s, dir, "customer")
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        cust.filter(col("c_custkey") % 2 === 0).repartition(4)
          .write.format("kv").option("path", staged).mode("append").save()
        graft.sources.kv.KvBloom.build(s, staged, Seq("c_custkey"))
        cust.filter(col("c_custkey") % 2 === 1).repartition(2)
          .write.format("kv").option("path", staged).mode("append").save()
      }
      graft.sources.kv.KvBloom.append(s, staged)
      s.read.format("kv").option("path", staged).load()
        .filter(col("c_custkey").isin(2L, 3L, 40L, 41L, 999999999L))
        .select(col("c_custkey"), col("c_name"),
          round(col("c_acctbal"), 2).as("c_acctbal"))
        .orderBy(col("c_custkey"))
    }),

    // Schema evolution: ALTER TABLE ADD COLUMN is a metadata-only
    // sidecar update (no table rewrite — the only plan at 100 TB).
    // Stage nation as a kv table, add a BIGINT column through the SQL
    // surface, append rows that carry it — pre-evolution rows read as
    // NULL (the sparse-attribute read path), appended rows carry values.
    "q_kv_add_column" -> ((s, dir) => {
      val safe = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val staged = s"/tmp/graft_addcol$safe"
      ParquetIO.deletePath(staged)
      val nation = graft.Tables.load(s, dir, "nation")
      nation.select(col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"))
        .write.format("kv").option("path", staged).mode("overwrite").save()
      s.sql(s"ALTER TABLE kvcat.`$staged` ADD COLUMN n_bonus BIGINT")
      nation.select((col("n_nationkey") + 1000L).as("n_nationkey"),
          col("n_name"), col("n_regionkey").cast("long").as("n_bonus"))
        .write.format("kv").option("path", staged).mode("append").save()
      s.read.table(s"kvcat.`$staged`").orderBy(col("n_nationkey"))
    }),

    // Schema evolution, step 2: ALTER COLUMN TYPE widening (int → long,
    // float → double), metadata-only. Pre-widening files keep INT32 /
    // FLOAT storage and upcast at read time; the post-widening append
    // carries keys beyond Int.MaxValue — only the widened type can hold
    // the table. The filter exercises the mixed-physical pushdown path
    // (the column drops out of the common schema, so the predicate is
    // applied as a residual, never compiled against the wrong width).
    // The table is BUCKETIZED on the int key before widening and the
    // result flows through an equi-join on the widened key under the
    // SPJ confs: murmur3's hash domain changed with the type, so a kept
    // KeyGroupedPartitioning claim would silently drop rows here —
    // the catalog must withdraw the layout on widening (row-preserving
    // join, so the oracle is the plain table scan).
    "q_kv_widen_column" -> ((s, dir) => {
      val safe = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val staged = s"/tmp/graft_widen$safe"
      ParquetIO.deletePath(staged)
      val supplier = graft.Tables.load(s, dir, "supplier")
      supplier.select(col("s_suppkey").cast("int").as("s_suppkey"),
          col("s_name"), col("s_acctbal").cast("float").as("s_acctbal"))
        .write.format("kv").option("path", staged).mode("overwrite").save()
      graft.operators.KvMerge.bucketize(s, staged, 8, Seq("s_suppkey"))
      s.sql(s"ALTER TABLE kvcat.`$staged` ALTER COLUMN s_suppkey TYPE BIGINT")
      s.sql(s"ALTER TABLE kvcat.`$staged` ALTER COLUMN s_acctbal TYPE DOUBLE")
      supplier.select((col("s_suppkey") + lit(5000000000L)).as("s_suppkey"),
          col("s_name"),
          (col("s_acctbal").cast("float").cast("double") + 0.5).as("s_acctbal"))
        .write.format("kv").option("path", staged).mode("append").save()
      // every key of the table exactly once — the inner join keeps
      // each row iff bucket routing is sound
      val keys = supplier.select(col("s_suppkey").cast("long").as("s_suppkey"))
        .union(supplier.select((col("s_suppkey") + lit(5000000000L)).as("s_suppkey")))
        .distinct()
      s.read.table(s"kvcat.`$staged`")
        .join(keys, "s_suppkey")
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
        .where(col("s_suppkey") > 10L)
        .orderBy(col("s_suppkey"))
    }),

    // Schema evolution, step 3: DROP COLUMN and RENAME COLUMN,
    // metadata-only (KvEvolution — Iceberg column-mapping "name mode"
    // without field IDs). The rename keeps its bytes on pre-rename
    // files (the ledger maps the new logical name to the on-disk
    // physical name and the row reader resolves it per file); the drop
    // hides bytes that stay in the files forever. Name-based stores
    // cannot safely re-use evolved-away names, so the resurrection
    // refusals — ADD COLUMN of a dropped name, ADD COLUMN of a
    // renamed column's physical name — are asserted in-gate, and an
    // append that writes the dropped name anyway must not resurface it
    // (its other columns land; the orphan bytes stay invisible). The
    // final read filters through the renamed column — mixed physical
    // layouts, so the predicate stays residual and Spark re-applies.
    "q_kv_drop_rename_column" -> ((s, dir) => {
      val safe = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val staged = s"/tmp/graft_evolve$safe"
      ParquetIO.deletePath(staged)
      val nation = graft.Tables.load(s, dir, "nation")
      nation.select(col("n_nationkey").cast("long").as("n_nationkey"),
          col("n_name"), col("n_regionkey").cast("long").as("n_regionkey"))
        .write.format("kv").option("path", staged).mode("overwrite").save()
      s.sql(s"ALTER TABLE kvcat.`$staged` RENAME COLUMN n_name TO nation_name")
      s.sql(s"ALTER TABLE kvcat.`$staged` DROP COLUMN n_regionkey")
      // post-evolution append carries the NEW name natively
      nation.select((col("n_nationkey") + 1000L).as("n_nationkey"),
          upper(col("n_name")).as("nation_name"))
        .write.format("kv").option("path", staged).mode("append").save()
      def refused(ddl: String): Boolean =
        try { s.sql(ddl); false } catch { case _: Throwable => true }
      require(refused(s"ALTER TABLE kvcat.`$staged` ADD COLUMN n_regionkey BIGINT"),
        "ADD COLUMN of a dropped name must refuse — old bytes would resurface")
      require(refused(s"ALTER TABLE kvcat.`$staged` ADD COLUMN n_name STRING"),
        "ADD COLUMN of a renamed column's physical name must refuse")
      // an append that still writes the dropped name: other columns
      // land, the orphan bytes stay invisible
      nation.select((col("n_nationkey") + 2000L).as("n_nationkey"),
          lower(col("n_name")).as("nation_name"),
          col("n_regionkey").cast("long").as("n_regionkey"))
        .write.format("kv").option("path", staged).mode("append").save()
      val t = s.read.table(s"kvcat.`$staged`")
      require(!t.columns.contains("n_regionkey"),
        "dropped column must not resurface through a later append")
      t.filter(col("nation_name") =!= "zzz")
        .select(col("n_nationkey"), col("nation_name"))
        .orderBy(col("n_nationkey"))
    }),

    // RESTORE TABLE TO epoch — the time-travel snapshot made CURRENT
    // (Delta's RESTORE on the sink's epoch-marker log): epoch history
    // 0..2, restore to 1 deletes epoch 2's commit marker (visibility
    // flips off) and garbage-collects its file; nothing is rewritten.
    // Refusals asserted in-gate: restoring to a never-committed epoch,
    // and restoring below bulk-appended rows that carry no epoch to
    // roll back by. Restore is idempotent (second call rolls back 0).
    "q_kv_restore_epoch" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
      import org.apache.spark.unsafe.types.UTF8String
      val safe = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val root = s"/tmp/graft_restore$safe"
      ParquetIO.deletePath(root)
      val sink = s"$root/t"
      val sinkSchema = StructType(Seq(
        StructField("n_nationkey", LongType), StructField("n_name", StringType)))
      val rows = graft.Tables.load(s, dir, "nation")
        .select(col("n_nationkey").cast("long"), col("n_name")).collect()
      val factory = graft.sources.kv.KvStreamingWriterFactory(sink, sinkSchema)
      val write = new graft.sources.kv.KvStreamingWrite(sink, sinkSchema)
      (0L to 2L).foreach { e =>
        val w = factory.createWriter(0, 0L, e)
        rows.filter(_.getLong(0) % 3 == e).foreach { r =>
          w.write(new GenericInternalRow(Array[Any](
            r.getLong(0), UTF8String.fromString(r.getString(1)))))
        }
        write.commit(e, Array(w.commit()))
      }
      def refuses(f: => Any): Boolean =
        try { f; false } catch { case _: Throwable => true }
      require(refuses(graft.operators.KvMerge.restoreToEpoch(sink, 5)),
        "restore to a never-committed epoch must refuse")
      require(graft.operators.KvMerge.restoreToEpoch(sink, 1) == 1,
        "exactly epoch 2 rolls back")
      require(graft.operators.KvMerge.restoreToEpoch(sink, 1) == 0,
        "restore is idempotent")
      graft.Tables.load(s, dir, "nation")
        .select((col("n_nationkey") + 1000L).cast("long").as("n_nationkey"),
          col("n_name"))
        .write.format("kv").option("path", sink).mode("append").save()
      require(refuses(graft.operators.KvMerge.restoreToEpoch(sink, 0)),
        "restore below bulk-appended (epoch-less) rows must refuse")
      s.read.format("kv").option("path", sink).load()
        .orderBy(col("n_nationkey"))
    }),

    // Table maintenance end-to-end: a 8-file kv table is compacted to 2
    // range-clustered files (crash-safe swap), then queried — contents
    // must be untouched by the rewrite.
    "q_kv_compact" -> ((s, dir) => {
      val safe = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val staged = s"/tmp/graft_compact$safe"
      graft.Tables.stageOnce(staged) {
        graft.Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
          .repartition(8)
          .write.format("kv").option("path", staged).mode("overwrite").save()
      }
      graft.operators.KvMerge.rewrite(s, staged, numFiles = 2,
        clusterBy = Seq("o_orderkey"))
      s.read.format("kv").option("path", staged).load()
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("min_key"),
          round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("o_orderpriority"))
    }),

    // Multi-dimensional clustering: the staged lineitem slice is
    // Z-ORDER rewritten on (l_partkey, l_suppkey) — the interleaved
    // curve layout that lets zone maps prune file reads on BOTH columns
    // (linear clusterBy serves only its leading column; KvZorderSpec
    // pins the pruning plans). The gate puts the RESULT on the oracle
    // board: a 2-D box query over the rewritten table must match DuckDB
    // over the original parquet exactly — layout never touches values.
    "q_kv_zorder" -> ((s, dir) => {
      val safe = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val staged = s"/tmp/graft_zorder$safe"
      graft.Tables.stageOnce(staged) {
        graft.Tables.load(s, dir, "lineitem")
          .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"),
            col("l_extendedprice"))
          .repartition(8)
          .write.format("kv").option("path", staged).mode("overwrite").save()
      }
      graft.operators.KvMerge.rewrite(s, staged, numFiles = 8,
        zorderBy = Seq("l_partkey", "l_suppkey"))
      graft.sources.kv.KvIndex.build(staged, Seq("l_partkey", "l_suppkey"))
      s.read.format("kv").option("path", staged).load()
        .filter(col("l_partkey").between(100, 400) &&
          col("l_suppkey").between(1, 60))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("revenue"))
        .orderBy(col("l_suppkey"))
    }),

    // Incremental zone-map maintenance: build on the first wave of
    // files; the second wave's kv write folds ONLY its new files in at
    // commit, so KvIndex.append finds them covered (footer I/O O(new);
    // KvIndexSpec pins append's shard reuse and coverage for files from
    // other writers). The gate queries ACROSS both waves through the
    // merged index — any hole in the merge loses rows against the oracle.
    "q_kv_index_append" -> ((s, dir) => {
      val safe = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val staged = s"/tmp/graft_idxapp$safe"
      graft.Tables.stageOnce(staged) {
        val ord = graft.Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        ord.filter(col("o_orderkey") % 2 === 0).repartition(4)
          .write.format("kv").option("path", staged).mode("append").save()
        graft.sources.kv.KvIndex.build(staged, Seq("o_orderkey"))
        ord.filter(col("o_orderkey") % 2 === 1).repartition(2)
          .write.format("kv").option("path", staged).mode("append").save()
      }
      graft.sources.kv.KvIndex.append(staged)
      s.read.format("kv").option("path", staged).load()
        .filter(col("o_orderkey") > 1000L)
        .groupBy((col("o_orderkey") % 2).as("parity"))
        .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("min_key"),
          round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("parity"))
    }),

    // Storage-partitioned join: orders and customer land as co-bucketized
    // kv tables (KvMerge.bucketize — Spark's own HashPartitioning
    // assignment, file→bucket recorded), read through the kv catalog so
    // the scans report KeyGroupedPartitioning(bucket(8, key)) and the
    // join plans with ZERO exchanges (KvBucketedJoinSpec pins the plan;
    // this gate puts the RESULT on the oracle board).
    "q_kv_bucketed_join" -> ((s, dir) => {
      val safe = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val ordersT = s"/tmp/graft_spjorders$safe"
      val custT = s"/tmp/graft_spjcust$safe"
      // each table staged on its own marker (after the bucketize): a run
      // that dies between the two can't strand a half-staged pair
      graft.Tables.stageOnce(ordersT) {
        graft.Tables.load(s, dir, "orders")
          .select(col("o_custkey").as("custkey"), col("o_totalprice"))
          .write.format("kv").option("path", ordersT).mode("overwrite").save()
        graft.operators.KvMerge.bucketize(s, ordersT, 8, Seq("custkey"))
      }
      graft.Tables.stageOnce(custT) {
        graft.Tables.load(s, dir, "customer")
          .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
          .write.format("kv").option("path", custT).mode("overwrite").save()
        graft.operators.KvMerge.bucketize(s, custT, 8, Seq("custkey"))
      }
      s.read.table(s"kvcat.`$ordersT`")
        .join(s.read.table(s"kvcat.`$custT`"), "custkey")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy(col("c_mktsegment"))
    }),

    // Footer-only aggregate pushdown: ungrouped COUNT/MIN/MAX answered
    // from cached parquet footers through the kv DSv2 scan — zero data
    // pages read (KvAggPushdownSpec asserts the plan; this gate checks
    // the values against a real scan in DuckDB).
    "q_kv_agg_pushdown" -> ((s, dir) => {
      s.read.format("kv").option("path", s"$dir/orders.parquet").load()
        .agg(count(lit(1)).as("n_rows"),
          min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"),
          min(col("o_totalprice")).as("min_price"), max(col("o_totalprice")).as("max_price"),
          min(col("o_orderpriority")).as("min_prio"), max(col("o_orderpriority")).as("max_prio"))
    }),

    // Stateful streaming dedup end-to-end: two streams over the SAME log
    // files union'd (every event arrives twice), dropDuplicates over the
    // full row keeps exactly one copy — the exactly-once-per-record
    // pattern a pipeline uses in front of an at-least-once transport. The
    // dedup state key here is the whole row; on an unbounded stream you
    // bound state with dropDuplicatesWithinWatermark instead (same
    // operator, TTL'd state).
    "q_stream_dedup" -> ((s, dir) => {
      val u = java.util.UUID.randomUUID().toString.replace("-", "")
      val sink = s"/tmp/graft_dedupsink_$u/t"
      val ckpt = s"/tmp/graft_dedupck_$u"
      def leg() = s.readStream.format("log")
        .option("path", s"$dir/events.parquet").load()
        .select(col("event_id"), col("event_type"), col("value"))
      val q = leg().unionByName(leg())
        .dropDuplicates()
        .writeStream.format("kv").option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.format("kv").option("path", sink).load().orderBy(col("event_id"))
    }),

    // T4/T6: continuous reader end-to-end — long-running per-shard readers
    // under Trigger.Continuous, stopped once the (bounded) shard set is
    // fully delivered; the expected row count comes from a batch read of
    // the same files, so the gate is deterministic.
    "q_log_continuous" -> ((s, dir) => {
      val u = java.util.UUID.randomUUID().toString.replace("-", "")
      val sink = s"/tmp/graft_contsink_$u/t"
      val ckpt = s"/tmp/graft_contck_$u"
      val src = s.read.format("log").option("path", s"$dir/events.parquet").load()
        .filter(col("event_type") === "error")
      val expected = src.count()
      val q = s.readStream.format("log").option("path", s"$dir/events.parquet").load()
        .filter(col("event_type") === "error") // continuous: map-like ops only
        .select(col("event_id"), col("user_id"), col("value"))
        .writeStream.format("kv").option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.Continuous("200 milliseconds"))
        .start()
      // the sink starts empty → give the reads an explicit catalog
      val cat = """{"columns": {"event_id": {"type": "long"}, "user_id": {"type": "long"}, "value": {"type": "double"}}}"""
      try {
        val deadline = System.currentTimeMillis() + 120000
        while (s.read.format("kv").option("path", sink).option("catalog", cat)
            .load().count() < expected &&
          System.currentTimeMillis() < deadline) Thread.sleep(250)
      } finally q.stop()
      s.read.format("kv").option("path", sink).option("catalog", cat).load()
        .orderBy(col("event_id"))
    }),

    // Merge-on-read CDC: the first two changelog files are compacted into
    // an immutable base, the third (DELETE batch) stays pending and is
    // folded at SCAN time — base anti-join touched keys ∪ latest images.
    // Same oracle algebra as q_cdc_apply, different physical layout: no
    // per-batch base rewrite (the 100 TB apply path).
    "q_cdc_merge_read" -> ((s, dir) => {
      val logDir = cdcLogDir(s, dir)
      val u = java.util.UUID.randomUUID().toString.replace("-", "")
      val base = s"/tmp/graft_morbase_$u"
      Cdc.compact(s, base, logDir, Seq("pk"), uptoFiles = Some(2L))
      Cdc.mergeOnReadView(s, base, logDir, Seq("pk")).orderBy(col("pk"))
    }),

    // The same change algebra through the SQL MERGE surface — the CDC →
    // lakehouse-table apply path a warehouse user actually types: base
    // image as a kv table, later changelog records folded to one row per
    // key (latest timestamp wins — MERGE cardinality discipline), then
    // ONE MERGE INTO with delete/update/insert clauses driving the
    // file-granular copy-on-write rewrite. Same oracle as
    // q_cdc_merge_read: three physical apply strategies, one algebra.
    "q_cdc_merge_sql" -> ((s, dir) => {
      val logDir = cdcLogDir(s, dir)
      val safe = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val staged = s"/tmp/graft_cdcsql$safe"
      ParquetIO.deletePath(staged)
      val changes = s.read.format("cdc").option("path", logDir).load()
      changes.filter(col("__record_type__") === "PUT" &&
          col("__record_timestamp__") === 1L)
        .select(col("pk"), col("custkey"), col("status"),
          col("totalprice"), col("priority"))
        .write.format("kv").option("path", staged).mode("overwrite").save()
      val later = changes.filter(col("__record_timestamp__") > 1L)
      val latestTs = later.groupBy(col("pk"))
        .agg(max(col("__record_timestamp__")).as("__record_timestamp__"))
      later.join(latestTs, Seq("pk", "__record_timestamp__"), "left_semi")
        .select(col("__record_type__").as("rt"), col("pk"), col("custkey"),
          col("status"), col("totalprice"),
          when(col("__column_type_priority") === "DELETE_ONE_VERSION",
            lit(null).cast("string")).otherwise(col("priority")).as("priority"))
        .createOrReplaceTempView("cdc_sql_changes")
      s.sql(
        s"""MERGE INTO kvcat.`$staged` t USING cdc_sql_changes c ON t.pk = c.pk
           |WHEN MATCHED AND c.rt = 'DELETE' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET custkey = c.custkey,
           |  status = c.status, totalprice = c.totalprice,
           |  priority = c.priority
           |WHEN NOT MATCHED AND c.rt <> 'DELETE' THEN
           |  INSERT (pk, custkey, status, totalprice, priority)
           |  VALUES (c.pk, c.custkey, c.status, c.totalprice, c.priority)
           |""".stripMargin)
      s.read.format("kv").option("path", staged).load().orderBy(col("pk"))
    }),

    // The STREAMING maintenance loop: cdc micro-batches (one changelog
    // epoch per trigger) folded per-key and applied through SQL MERGE
    // INTO inside foreachBatch — the continuous CDC → lakehouse-table
    // pipeline. Exactly-once table state follows from merge idempotence:
    // a replayed batch is a keyed upsert/delete set, and re-merging it
    // converges to the same image (upsert to the same values, delete of
    // an absent key) — no sink-side batch log needed. Epoch 1 inserts
    // into the EMPTY base (schema staged via a zero-row write), epochs
    // 2-3 update/delete; same oracle algebra as the other apply paths.
    "q_cdc_stream_merge" -> ((s, dir) => {
      val logDir = cdcLogDir(s, dir)
      val u = java.util.UUID.randomUUID().toString.replace("-", "")
      val staged = s"/tmp/graft_cdcstrm_$u"
      val ckpt = s"/tmp/graft_cdcstrmck_$u"
      s.read.format("cdc").option("path", logDir).load()
        .select(col("pk"), col("custkey"), col("status"),
          col("totalprice"), col("priority"))
        .limit(0)
        .write.format("kv").option("path", staged).mode("overwrite").save()
      s.readStream.format("cdc").option("path", logDir)
        .option("maxFilesPerTrigger", "1").load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          val ss = batch.sparkSession
          val latestTs = batch.groupBy(col("pk"))
            .agg(max(col("__record_timestamp__")).as("__record_timestamp__"))
          batch.join(latestTs, Seq("pk", "__record_timestamp__"), "left_semi")
            .select(col("__record_type__").as("rt"), col("pk"), col("custkey"),
              col("status"), col("totalprice"),
              when(col("__column_type_priority") === "DELETE_ONE_VERSION",
                lit(null).cast("string")).otherwise(col("priority")).as("priority"))
            .createOrReplaceTempView("cdc_stream_batch")
          // the invariant below only binds when this batch MATCHES some
          // existing row — an insert-only batch has no matched groups
          // for Spark to runtime-filter, and must not trip the require
          val hadMatches = ss.read.format("kv").option("path", staged).load()
            .join(batch.select(col("pk")).distinct(), Seq("pk"), "left_semi")
            .limit(1).count() > 0
          val filtersBefore =
            graft.sources.kv.KvRloScan.groupFilterCount(staged)
          ss.sql(
            s"""MERGE INTO kvcat.`$staged` t USING cdc_stream_batch c ON t.pk = c.pk
               |WHEN MATCHED AND c.rt = 'DELETE' THEN DELETE
               |WHEN MATCHED THEN UPDATE SET custkey = c.custkey,
               |  status = c.status, totalprice = c.totalprice,
               |  priority = c.priority
               |WHEN NOT MATCHED AND c.rt <> 'DELETE' THEN
               |  INSERT (pk, custkey, status, totalprice, priority)
               |  VALUES (c.pk, c.custkey, c.status, c.totalprice, c.priority)
               |""".stripMargin)
          // Backpressure invariant, PINNED per batch: once the base is
          // non-empty, the MERGE's rewrite scan must have received the
          // `_file IN (matched groups)` runtime filter — per-batch
          // rewrite cost is bounded by the files the batch's keys touch,
          // not by the table size. (Batch 0 merges into the empty base,
          // where there are no matched groups to filter.)
          if (batchId >= 1 && hadMatches) require(
            graft.sources.kv.KvRloScan.groupFilterCount(staged) > filtersBefore,
            s"streaming MERGE batch $batchId planned WITHOUT runtime group " +
              "filtering — per-batch cost would scale with table size")
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
      s.read.format("kv").option("path", staged).load().orderBy(col("pk"))
    }),

    // T1/T2 + U1: deterministic changelog derived from orders → cdc batch
    // read → applyChanges (PUT/UPDATE upsert, column-op resolution, DELETE
    // retirement). The oracle reproduces the change algebra in SQL.
    "q_cdc_apply" -> ((s, dir) => {
      val logDir = cdcLogDir(s, dir)
      val changes = s.read.format("cdc").option("path", logDir).load()
      Cdc.applyChanges(changes, Seq("pk"))
        .orderBy(col("pk"))
    }),

    // W4: exactly-once JDBC sink end-to-end — a rate-limited log stream
    // drained through the two-phase sink-log protocol into Derby
    // (reference `JdbcSink.scala:176-276` / `JDBCSinkLog.scala:46-133`),
    // with an injected crash (PENDING log row + stale staged temp table)
    // recovered by batch 0 and a post-commit replay skipped. The target
    // table is read back through the built-in jdbc source (S7).
    "q_jdbc_sink" -> ((s, dir) => {
      val u = java.util.UUID.randomUUID().toString.replace("-", "")
      val url = s"jdbc:derby:memory:graftsink$u;create=true"
      val table = "SINK_ORDERS"
      val src = s"/tmp/graft_jdbcsrc_$u"
      val ckpt = s"/tmp/graft_jdbcck_$u"
      val slice = graft.Tables.load(s, dir, "orders")
        .filter(col("o_orderkey") % 20 === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      slice.coalesce(1).write.format("kv").option("path", src).mode("overwrite").save()
      val total = slice.count()
      // injected crash: batch 0 was mid-flight — PENDING in the sink log
      // with a stale staged temp table the recovery must drop
      val c = java.sql.DriverManager.getConnection(url)
      try {
        c.createStatement().executeUpdate(
          "CREATE TABLE GRAFT_SINK_LOG (sink_table VARCHAR(128) NOT NULL, " +
            "batch_id BIGINT NOT NULL, status VARCHAR(16) NOT NULL, " +
            "PRIMARY KEY (sink_table, batch_id))")
        c.createStatement().executeUpdate(
          s"INSERT INTO GRAFT_SINK_LOG VALUES ('$table', 0, 'PENDING')")
        c.createStatement().executeUpdate(
          s"CREATE TABLE TMP_${table}_0_999 " +
            "(o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)")
        c.createStatement().executeUpdate(
          s"INSERT INTO TMP_${table}_0_999 VALUES (-1, -1, 0.0)")
      } finally c.close()
      val q = s.readStream.format("log").option("path", src)
        .option("maxOffsetsPerTrigger", math.max(total / 3L, 1L).toString).load()
        .writeStream
        .foreachBatch(graft.sinks.ExactlyOnceJdbcSink.writer(url, table))
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // replay of a committed batch must be skipped outright
      require(!graft.sinks.ExactlyOnceJdbcSink.addBatch(url, table, 0L, slice),
        "replayed batch 0 was not skipped")
      s.read.format("jdbc").option("url", url).option("dbtable", table).load()
        .select(col("O_ORDERKEY").as("o_orderkey"), col("O_CUSTKEY").as("o_custkey"),
          col("O_TOTALPRICE").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // W3: sink type converters (convert.types=true) — the Loghub
    // producer discipline (Utils.scala:53-99): timestamps → epoch ms,
    // decimals → double, written through the kv sink and read back in
    // converted form; the oracle reproduces the conversions in SQL.
    "q_kv_convert_types" -> ((s, dir) => {
      val u = java.util.UUID.randomUUID().toString.replace("-", "")
      val out = s"/tmp/graft_conv_$u"
      graft.Tables.load(s, dir, "lineitem")
        .filter(col("l_orderkey") % 100 === 0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"),
          col("l_extendedprice").cast("decimal(12,2)").as("price_dec"))
        .write.format("kv").option("path", out)
        .option("convert.types", "true").mode("overwrite").save()
      s.read.format("kv").option("path", out).load()
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_shipdate").as("ship_ms"), col("price_dec").as("price"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // T1/T2 streaming surface: the cdc changelog drained as a micro-batch
    // stream (one file per trigger), landed in a kv sink, and the change
    // algebra applied on the read-back — same oracle as the batch apply.
    "q_cdc_stream_drain" -> ((s, dir) => {
      val logDir = cdcLogDir(s, dir)
      val u = java.util.UUID.randomUUID().toString.replace("-", "")
      val sink = s"/tmp/graft_cdcdrain_$u/t"
      val ckpt = s"/tmp/graft_cdcdrainck_$u"
      val q = s.readStream.format("cdc").option("path", logDir)
        .option("maxFilesPerTrigger", "1").load()
        .writeStream.format("kv").option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      Cdc.applyChanges(
        s.read.format("kv").option("path", sink).load(), Seq("pk"))
        .orderBy(col("pk"))
    }),

    // Streaming ingest with incremental index maintenance — the
    // composition the sidecar increments exist for: each micro-batch
    // appends to the kv table, and once the first batch has built the
    // Bloom + zone-map sidecars every later batch's kv write folds ONLY
    // its new files into them at commit (the append calls then find
    // them covered), so point-lookup pruning never goes stale and
    // maintenance cost tracks batch size, not table size. The gate's
    // final read crosses every batch through the maintained sidecars.
    "q_kv_stream_index" -> ((s, dir) => {
      val u = java.util.UUID.randomUUID().toString.replace("-", "")
      val sink = s"/tmp/graft_stridx_$u/t"
      val ckpt = s"/tmp/graft_stridxck_$u"
      val q = s.readStream.format("log").option("path", s"$dir/events.parquet")
        .option("maxOffsetsPerTrigger", "4000").load()
        .select(col("event_id"), col("user_id"), col("value"))
        .writeStream
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.write.format("kv").option("path", sink).mode("append").save()
          if (graft.sources.kv.KvBloom.reader(sink).isEmpty) {
            graft.sources.kv.KvBloom.build(s, sink, Seq("event_id"))
            graft.sources.kv.KvIndex.build(sink, Seq("event_id", "user_id"))
          } else {
            graft.sources.kv.KvBloom.append(s, sink)
            graft.sources.kv.KvIndex.append(sink)
          }
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.format("kv").option("path", sink).load()
        .filter(col("user_id").between(10L, 20L))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"),
          min(col("event_id")).as("min_event"))
        .orderBy(col("user_id"))
    }),

    // S5 + W10: warehouse partitioned write, dynamic single-partition
    // overwrite, partition-pruned read-back — the ODPS create/overwrite-
    // partition semantics (ODPSWriter.scala:57-167) on hive-layout
    // parquet; the '1-URGENT' partition is rewritten with doubled prices
    // and the filter prunes to two partition directories.
    "q_warehouse_rw" -> ((s, dir) => {
      val safe = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val staged = s"/tmp/graft_wh$safe"
      graft.Tables.stageOnce(staged) {
        val orders = graft.Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        graft.sources.Warehouse.saveTable(orders, staged,
          Seq("o_orderpriority"), overwritePartitions = false)
        graft.sources.Warehouse.saveTable(
          orders.filter(col("o_orderpriority") === "1-URGENT")
            .withColumn("o_totalprice", col("o_totalprice") * 2),
          staged, Seq("o_orderpriority"), overwritePartitions = true)
      }
      graft.sources.Warehouse.readTable(s, staged)
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("o_orderpriority"))
    }),

    // Schema-registry-style Avro table (kafka_store_sales.sql:6-13
    // surface): a log table whose shard payloads are binary-encoded Avro
    // records, value schema resolved registry-style from a schema dir by
    // record name/namespace, decoded by the generic AvroFunctions path.
    "q_avro_table" -> ((s, dir) => {
      val safe = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val tableDir = s"/tmp/graft_avrotab$safe"
      val registry = s"/tmp/graft_avroreg$safe"
      val schemaJson =
        """{"type":"record","name":"OrderEvent","namespace":"graft.sales","fields":[
          | {"name":"o_orderkey","type":"long"},
          | {"name":"o_orderstatus","type":["null","string"],"default":null},
          | {"name":"o_totalprice","type":"double"}]}""".stripMargin
      graft.Tables.stageOnce(tableDir) {
        val fs = new org.apache.hadoop.fs.Path(registry)
          .getFileSystem(ParquetIO.hadoopConf)
        fs.mkdirs(new org.apache.hadoop.fs.Path(registry))
        val regFile = fs.create(
          new org.apache.hadoop.fs.Path(registry, "graft.sales.OrderEvent.avsc"), true)
        regFile.write(schemaJson.getBytes("UTF-8"))
        regFile.close()
        val avroSchema = new org.apache.avro.Schema.Parser().parse(schemaJson)
        val writer = new org.apache.avro.generic.GenericDatumWriter[
          org.apache.avro.generic.GenericRecord](avroSchema)
        val binSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("value",
            org.apache.spark.sql.types.BinaryType)))
        fs.mkdirs(new org.apache.hadoop.fs.Path(tableDir))
        val w = ParquetIO.openWriter(
          new org.apache.hadoop.fs.Path(tableDir, "shard-0.parquet"), binSchema)
        graft.Tables.load(s, dir, "orders")
          .filter(col("o_orderkey") % 50 === 0)
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
          .orderBy(col("o_orderkey")).collect().foreach { r =>
            val rec = new org.apache.avro.generic.GenericData.Record(avroSchema)
            rec.put("o_orderkey", r.getLong(0))
            rec.put("o_orderstatus", if (r.isNullAt(1)) null else r.getString(1))
            rec.put("o_totalprice", r.getDouble(2))
            val out = new java.io.ByteArrayOutputStream()
            val enc = org.apache.avro.io.EncoderFactory.get().binaryEncoder(out, null)
            writer.write(rec, enc)
            enc.flush()
            val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
            row.update(0, out.toByteArray)
            w.write(row)
          }
        w.close()
      }
      s.read.format("log").option("path", tableDir)
        .option("value.format", "avro")
        .option("avro.schema.dir", registry)
        .option("avro.record.name", "OrderEvent")
        .option("avro.record.namespace", "graft.sales").load()
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("o_orderstatus"))
    }),

    // U2: dts_binlog_parser Avro UDTF — a deterministic changelog encoded
    // from nation via the fixture encoder, decoded by the Catalyst
    // Generator into the reference's 9-column layout
    // (FromDTSAvroUDF.scala:78-97); map/array columns projected to
    // scalars for the oracle compare.
    "q_binlog_parse" -> ((s, dir) => {
      import s.implicits._
      val rows = graft.Tables.load(s, dir, "nation")
        .select(col("n_nationkey").cast("long"), col("n_name")).collect()
      val payloads = rows.toSeq.map { r =>
        val k = r.getLong(0)
        val name = r.getString(1)
        graft.functions.BinlogAvro.encode(
          recordID = k, source = "mysql-bin.000001", dbTable = "tpch.nation",
          recordType = (k % 3) match {
            case 0 => "INSERT"; case 1 => "UPDATE"; case _ => "DELETE" },
          recordTimestampMs = 1500000000000L + k * 1000L,
          extraTags = Map("shard" -> (k % 4).toString),
          fields = Seq("n_name", "n_comment"),
          before = Map("n_name" -> s"old-$name"),
          after = Map("n_name" -> name))
      }
      payloads.toDF("value")
        .select(graft.functions.BinlogAvro.binlogParser(col("value")))
        .select(col("recordID").as("record_id"), col("source").as("src"),
          col("dbTable").as("db_table"), col("recordType").as("record_type"),
          unix_millis(col("recordTimestamp")).as("ts_ms"),
          element_at(col("extraTags"), "shard").as("tag_shard"),
          array_join(col("fields"), ",").as("fields_s"),
          element_at(col("beforeImages"), "n_name").as("before_name"),
          element_at(col("afterImages"), "n_name").as("after_name"))
        .orderBy(col("record_id"))
    }),

    // Typed mysql field conversion over the binlog images
    // (MysqlFieldConverter.java:1-396 semantics): a changelog whose after
    // image carries every mysql type family textually — signed/unsigned
    // ints, decimal, float/double, date/datetime incl. the zero-date,
    // bit, year, time, varchar with a non-latin1 charset (mojibake
    // repair), hex binary — decoded to typed columns by
    // MysqlTypes.typedImage and oracle-replayed in DuckDB.
    "q_binlog_typed" -> ((s, dir) => {
      import s.implicits._
      val rows = graft.Tables.load(s, dir, "nation")
        .select(col("n_nationkey").cast("long"), col("n_name")).collect()
      val payloads = rows.toSeq.map { r =>
        val k = r.getLong(0)
        val name = r.getString(1)
        graft.functions.BinlogAvro.encode(
          recordID = k, source = "mysql-bin.000002", dbTable = "tpch.nation",
          recordType = "UPDATE",
          recordTimestampMs = 1500000000000L + k * 1000L,
          extraTags = Map.empty, fields = Seq.empty, before = Map.empty,
          after = Map(
            "small" -> (k - 12).toString,
            "ucnt" -> (BigInt("18446744073709551615") - k).toString,
            "price" -> s"$k.25",
            "odate" -> (if (k == 0) "0000-00-00"
              else java.time.LocalDate.of(2020, 1, 1).plusDays(k).toString),
            "created" -> f"2021-03-04 05:06:${7 + k}%02d.250000",
            "flag" -> (k % 2).toString,
            "ratio" -> (k * 0.5).toString,
            "fval" -> (k * 0.25f).toString,
            "name" -> name,
            "fixed" -> new String(s"naïve-$name".getBytes(
              java.nio.charset.StandardCharsets.UTF_8),
              java.nio.charset.StandardCharsets.ISO_8859_1),
            "tm" -> f"$k%02d:30:45",
            "yr" -> (1990 + k).toString,
            "payload" -> name.getBytes(java.nio.charset.StandardCharsets.UTF_8)
              .map("%02X".format(_)).mkString))
      }
      val typed = graft.functions.MysqlTypes.typedImage(col("afterImages"), Seq(
        "small" -> "smallint", "ucnt" -> "bigint unsigned",
        "price" -> "decimal(12,2)", "odate" -> "date",
        "created" -> "datetime(6)", "flag" -> "bit(1)", "ratio" -> "double",
        "fval" -> "float", "name" -> "varchar(25)",
        "fixed" -> "varchar(64) charset utf8mb4", "tm" -> "time",
        "yr" -> "year", "payload" -> "varbinary(64)"))
      payloads.toDF("value")
        .select(graft.functions.BinlogAvro.binlogParser(col("value")))
        .select(col("recordID").as("record_id"), typed.as("t"))
        // ucnt compares as its digit string: 2^64-1 exceeds float64, and
        // the oracle harness fetches DuckDB decimals through float64
        .select(col("record_id"), col("t.small").as("small"),
          col("t.ucnt").cast("string").as("ucnt"), col("t.price").as("price"),
          col("t.odate").as("odate"),
          unix_millis(col("t.created")).as("created_ms"),
          col("t.flag").as("flag"), col("t.ratio").as("ratio"),
          col("t.fval").as("fval"), col("t.name").as("name_s"),
          col("t.fixed").as("fixed_s"), col("t.tm").as("tm"),
          col("t.yr").as("yr"), hex(col("t.payload")).as("payload_hex"))
        .orderBy(col("record_id"))
    }),
  )

  /** Build (once per sfDir) a 3-batch changelog from orders:
    * batch 1: PUT of every order; batch 2: UPDATE for pk%7==0 (totalprice
    * += 100, priority column-deleted); batch 3: DELETE for pk%13==0.
    */
  private def cdcLogDir(s: SparkSession, dir: String): String = {
    val safe = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val logDir = s"/tmp/graft_cdc$safe"
    if (ParquetIO.listFiles(logDir).length != 3) {
      ParquetIO.deletePath(logDir)
      val orders = graft.Tables.load(s, dir, "orders")
        .select(col("o_orderkey").as("pk"), col("o_custkey").as("custkey"),
          col("o_orderstatus").as("status"), col("o_totalprice").as("totalprice"),
          col("o_orderpriority").as("priority"))
      val puts = orders.select(
        lit("PUT").as("__record_type__"), lit(1L).as("__record_timestamp__"),
        col("pk"), col("custkey"), col("status"), col("totalprice"), col("priority"),
        lit("PUT").as("__column_type_custkey"), lit("PUT").as("__column_type_status"),
        lit("PUT").as("__column_type_totalprice"), lit("PUT").as("__column_type_priority"))
      val updates = orders.filter(col("pk") % 7 === 0).select(
        lit("UPDATE").as("__record_type__"), lit(2L).as("__record_timestamp__"),
        col("pk"), col("custkey"), col("status"),
        (col("totalprice") + 100).as("totalprice"), col("priority"),
        lit("PUT").as("__column_type_custkey"), lit("PUT").as("__column_type_status"),
        lit("PUT").as("__column_type_totalprice"),
        lit("DELETE_ONE_VERSION").as("__column_type_priority"))
      val deletes = orders.filter(col("pk") % 13 === 0).select(
        lit("DELETE").as("__record_type__"), lit(3L).as("__record_timestamp__"),
        col("pk"), lit(null).cast("long").as("custkey"),
        lit(null).cast("string").as("status"),
        lit(null).cast("double").as("totalprice"), lit(null).cast("string").as("priority"),
        lit(null).cast("string").as("__column_type_custkey"),
        lit(null).cast("string").as("__column_type_status"),
        lit(null).cast("string").as("__column_type_totalprice"),
        lit(null).cast("string").as("__column_type_priority"))
      Cdc.appendBatch(puts, logDir)
      Cdc.appendBatch(updates, logDir)
      Cdc.appendBatch(deletes, logDir)
    }
    logDir
  }

  def oracles: Map[String, String] = Map(
    "q_kv_scan" ->
      """SELECT l_linestatus, count(*) AS n, round(sum(l_extendedprice), 2) AS total
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00' AND l_returnflag = 'R'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_log_scan" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_log_raw_json" ->
      """SELECT event_type, count(*) AS n
        |FROM events
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_sql_tumbling" ->
      """SELECT CAST(epoch(time_bucket(INTERVAL 2 MINUTE, ts)) AS BIGINT) AS w_start,
        |  event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    "q_sql_stream_insert" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // sum(DECIMAL(28,4)) is exact on both engines; its double image is
    // exact too (unscaled < 2^53), so no rounding is needed on sum_price.
    "q_kv_wide_types" ->
      """SELECT l_returnflag AS rf, count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(28, 4))) AS DOUBLE) AS sum_price,
        |  round(sum(l_quantity * (1 - l_discount)), 2) AS disc_qty,
        |  round(sum(l_quantity * (1 - l_discount)), 2) AS disc_qty_deep
        |FROM lineitem
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_queue_drain" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name
        |FROM nation ORDER BY 1""".stripMargin,

    "q_kv_infer" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  count(CASE WHEN o_orderkey % 3 = 1 THEN o_custkey END) AS n_cust,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders
        |WHERE o_orderkey % 3 IN (0, 1)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the snapshot at epoch 1 is exactly the first two mod-3 slices; the
    // torn epoch's sentinel row must never appear
    "q_kv_time_travel" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name FROM nation
        |WHERE n_nationkey % 3 <= 1
        |ORDER BY n_nationkey""".stripMargin,

    // current state after the retirement UPDATE (the refusals below the
    // retention floor are asserted in-gate; a refusal that failed to
    // fire would throw there, never reach this compare)
    "q_kv_marker_retention" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |  CASE WHEN n_nationkey % 5 = 0 THEN 'RETIRED' ELSE n_name END AS n_name
        |FROM nation
        |ORDER BY n_nationkey""".stripMargin,

    // the same DML applied to the raw table: delete the urgent class,
    // discount the > 200k tail
    "q_kv_dml" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS n,
        |  round(sum(CASE WHEN o_totalprice > 200000.0
        |    THEN o_totalprice * 0.9 ELSE o_totalprice END), 2) AS total
        |FROM orders
        |WHERE o_orderpriority <> '1-URGENT'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_kv_bloom_prune" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
        |FROM orders WHERE o_orderkey IN (1, 2, 3, 999999999)
        |ORDER BY o_orderkey""".stripMargin,

    "q_kv_file_audit" ->
      """SELECT CAST(8 AS BIGINT) AS n_files, count(*)::BIGINT AS n_rows,
        |  count(*)::BIGINT AS n_attributed
        |FROM orders""".stripMargin,

    "q_kv_update_sql" ->
      """SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
        |  CASE WHEN c_custkey % 7 = 0 AND c_acctbal > 0.0
        |    THEN c_acctbal + CAST(c_custkey AS DOUBLE) ELSE c_acctbal END AS c_acctbal,
        |  CASE WHEN c_custkey % 7 = 0 AND c_acctbal > 0.0
        |    THEN c_mktsegment || '+' ELSE c_mktsegment END AS c_mktsegment
        |FROM customer
        |ORDER BY c_custkey""".stripMargin,

    // the merge replayed as set algebra: %3∧%10 keys deleted, other %3
    // keys re-balanced (+1000, exact double add), %50 keys re-inserted
    // under +1000000 as 'NEW'
    "q_kv_merge_into" ->
      """SELECT c_custkey, c_acctbal, c_mktsegment FROM (
        |  SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
        |    CASE WHEN c_custkey % 3 = 0 AND c_custkey % 10 <> 0
        |      THEN c_acctbal + 1000.0 ELSE c_acctbal END AS c_acctbal,
        |    c_mktsegment
        |  FROM customer
        |  WHERE NOT (c_custkey % 3 = 0 AND c_custkey % 10 = 0)
        |  UNION ALL
        |  SELECT CAST(c_custkey + 1000000 AS BIGINT), 0.0, 'NEW'
        |  FROM customer WHERE c_custkey % 50 = 0
        |)
        |ORDER BY c_custkey""".stripMargin,

    // schema evolution: original rows NULL in the added column, appended
    // rows (+1000 keys) carry the value
    "q_kv_add_column" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |  CAST(NULL AS BIGINT) AS n_bonus
        |FROM nation
        |UNION ALL
        |SELECT CAST(n_nationkey + 1000 AS BIGINT), n_name,
        |  CAST(n_regionkey AS BIGINT)
        |FROM nation
        |ORDER BY n_nationkey""".stripMargin,

    // widening: old rows' float/int storage upcast exactly (IEEE
    // float→double promotion is exact, so no rounding is needed);
    // appended keys sit beyond Int.MaxValue
    "q_kv_widen_column" ->
      """SELECT s_suppkey, s_name, s_acctbal FROM (
        |  SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name,
        |    CAST(CAST(s_acctbal AS FLOAT) AS DOUBLE) AS s_acctbal
        |  FROM supplier
        |  UNION ALL
        |  SELECT CAST(s_suppkey + 5000000000 AS BIGINT), s_name,
        |    CAST(CAST(s_acctbal AS FLOAT) AS DOUBLE) + 0.5
        |  FROM supplier
        |)
        |WHERE s_suppkey > 10 ORDER BY s_suppkey""".stripMargin,

    // drop/rename evolution: base rows read the renamed column through
    // its physical alias, the +1000 append wrote the new name natively,
    // the +2000 append's dropped-name bytes are invisible (refusals
    // asserted in-gate — a refusal that failed to fire throws there)
    "q_kv_drop_rename_column" ->
      """SELECT n_nationkey, nation_name FROM (
        |  SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |    n_name AS nation_name FROM nation
        |  UNION ALL
        |  SELECT CAST(n_nationkey + 1000 AS BIGINT), upper(n_name)
        |  FROM nation
        |  UNION ALL
        |  SELECT CAST(n_nationkey + 2000 AS BIGINT), lower(n_name)
        |  FROM nation
        |)
        |WHERE nation_name <> 'zzz'
        |ORDER BY n_nationkey""".stripMargin,

    // restore to epoch 1: epochs 0..1 survive, epoch 2 is rolled back,
    // the bulk +1000 append lands after the restore
    "q_kv_restore_epoch" ->
      """SELECT n_nationkey, n_name FROM (
        |  SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name
        |  FROM nation WHERE n_nationkey % 3 <= 1
        |  UNION ALL
        |  SELECT CAST(n_nationkey + 1000 AS BIGINT), n_name FROM nation
        |)
        |ORDER BY n_nationkey""".stripMargin,

    "q_kv_compact" ->
      """SELECT o_orderpriority, count(*) AS n, min(o_orderkey) AS min_key,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_kv_zorder" ->
      """SELECT l_suppkey, count(*) AS n,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS revenue
        |FROM lineitem
        |WHERE l_partkey BETWEEN 100 AND 400
        |  AND l_suppkey BETWEEN 1 AND 60
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_kv_stream_index" ->
      """SELECT user_id, count(*) AS n,
        |  round(sum(value), 2) AS sum_value,
        |  min(event_id) AS min_event
        |FROM events
        |WHERE user_id BETWEEN 10 AND 20
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_kv_bloom_append" ->
      """SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal
        |FROM customer
        |WHERE c_custkey IN (2, 3, 40, 41, 999999999)
        |ORDER BY c_custkey""".stripMargin,

    "q_kv_index_append" ->
      """SELECT o_orderkey % 2 AS parity, count(*) AS n,
        |  min(o_orderkey) AS min_key,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders
        |WHERE o_orderkey > 1000
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_kv_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the oracle scans the data for real — the footer-only answer must
    // agree exactly
    "q_kv_agg_pushdown" ->
      """SELECT count(*) AS n_rows,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
        |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
        |  min(o_orderpriority) AS min_prio, max(o_orderpriority) AS max_prio
        |FROM orders""".stripMargin,

    // every event arrives twice (two identical stream legs); the
    // stateful dedup reduces the union back to the distinct rows
    "q_stream_dedup" ->
      """SELECT DISTINCT event_id, event_type, value
        |FROM events
        |ORDER BY event_id""".stripMargin,

    "q_log_continuous" ->
      """SELECT event_id, user_id, value
        |FROM events
        |WHERE event_type = 'error'
        |ORDER BY event_id""".stripMargin,

    // identical final image through the streaming foreachBatch-MERGE loop
    "q_cdc_stream_merge" ->
      """SELECT o_orderkey AS pk, o_custkey AS custkey, o_orderstatus AS status,
        |  CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 100
        |       ELSE o_totalprice END AS totalprice,
        |  CASE WHEN o_orderkey % 7 = 0 THEN NULL
        |       ELSE o_orderpriority END AS priority
        |FROM orders
        |WHERE o_orderkey % 13 <> 0
        |ORDER BY pk""".stripMargin,

    // identical final image through the SQL MERGE strategy
    "q_cdc_merge_sql" ->
      """SELECT o_orderkey AS pk, o_custkey AS custkey, o_orderstatus AS status,
        |  CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 100
        |       ELSE o_totalprice END AS totalprice,
        |  CASE WHEN o_orderkey % 7 = 0 THEN NULL
        |       ELSE o_orderpriority END AS priority
        |FROM orders
        |WHERE o_orderkey % 13 <> 0
        |ORDER BY pk""".stripMargin,

    "q_cdc_merge_read" ->
      """SELECT o_orderkey AS pk, o_custkey AS custkey, o_orderstatus AS status,
        |  CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 100
        |       ELSE o_totalprice END AS totalprice,
        |  CASE WHEN o_orderkey % 7 = 0 THEN NULL
        |       ELSE o_orderpriority END AS priority
        |FROM orders
        |WHERE o_orderkey % 13 <> 0
        |ORDER BY pk""".stripMargin,

    "q_cdc_apply" ->
      """SELECT o_orderkey AS pk, o_custkey AS custkey, o_orderstatus AS status,
        |  CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 100
        |       ELSE o_totalprice END AS totalprice,
        |  CASE WHEN o_orderkey % 7 = 0 THEN NULL
        |       ELSE o_orderpriority END AS priority
        |FROM orders
        |WHERE o_orderkey % 13 <> 0
        |ORDER BY pk""".stripMargin,

    "q_jdbc_sink" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE o_orderkey % 20 = 0
        |ORDER BY o_orderkey""".stripMargin,

    "q_kv_convert_types" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(epoch_ms(l_shipdate) AS BIGINT) AS ship_ms,
        |  CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE) AS price
        |FROM lineitem
        |WHERE l_orderkey % 100 = 0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_cdc_stream_drain" ->
      """SELECT o_orderkey AS pk, o_custkey AS custkey, o_orderstatus AS status,
        |  CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 100
        |       ELSE o_totalprice END AS totalprice,
        |  CASE WHEN o_orderkey % 7 = 0 THEN NULL
        |       ELSE o_orderpriority END AS priority
        |FROM orders
        |WHERE o_orderkey % 13 <> 0
        |ORDER BY pk""".stripMargin,

    "q_warehouse_rw" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  round(sum(CASE WHEN o_orderpriority = '1-URGENT'
        |    THEN o_totalprice * 2 ELSE o_totalprice END), 2) AS total
        |FROM orders
        |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_avro_table" ->
      """SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders
        |WHERE o_orderkey % 50 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_binlog_parse" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS record_id,
        |  'mysql-bin.000001' AS src, 'tpch.nation' AS db_table,
        |  CASE CAST(n_nationkey AS BIGINT) % 3
        |    WHEN 0 THEN 'INSERT' WHEN 1 THEN 'UPDATE' ELSE 'DELETE'
        |  END AS record_type,
        |  1500000000000 + CAST(n_nationkey AS BIGINT) * 1000 AS ts_ms,
        |  CAST(CAST(n_nationkey AS BIGINT) % 4 AS VARCHAR) AS tag_shard,
        |  'n_name,n_comment' AS fields_s,
        |  'old-' || n_name AS before_name, n_name AS after_name
        |FROM nation ORDER BY record_id""".stripMargin,

    "q_binlog_typed" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS record_id,
        |  CAST(n_nationkey - 12 AS INTEGER) AS small,
        |  CAST(CAST('18446744073709551615' AS HUGEINT) - n_nationkey
        |    AS VARCHAR) AS ucnt,
        |  CAST(n_nationkey + 0.25 AS DECIMAL(12,2)) AS price,
        |  CASE WHEN n_nationkey = 0 THEN NULL
        |    ELSE DATE '2020-01-01' + CAST(n_nationkey AS INTEGER) END AS odate,
        |  CAST(epoch_ms(TIMESTAMP '2021-03-04 05:06:07.250'
        |    + to_seconds(CAST(n_nationkey AS BIGINT))) AS BIGINT) AS created_ms,
        |  CAST(n_nationkey % 2 AS BIGINT) AS flag,
        |  CAST(n_nationkey AS DOUBLE) * 0.5 AS ratio,
        |  CAST(n_nationkey * 0.25 AS FLOAT) AS fval,
        |  n_name AS name_s,
        |  'naïve-' || n_name AS fixed_s,
        |  lpad(CAST(n_nationkey AS VARCHAR), 2, '0') || ':30:45' AS tm,
        |  CAST(1990 + n_nationkey AS INTEGER) AS yr,
        |  hex(n_name) AS payload_hex
        |FROM nation ORDER BY record_id""".stripMargin,
  )
}
