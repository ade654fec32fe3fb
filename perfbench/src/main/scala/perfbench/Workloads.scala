package perfbench

/** The workloads and their fixed input shapes. */
object Workloads {
  val names: Seq[String] = Seq("log_ingest", "kv_serve", "ann_index")

  val annShape: Inputs.AnnShape = Inputs.AnnShape(baseVectors = 1500, appendVectors = 300,
    dim = 64, clusters = 16, latentDim = 4, queries = 40, queryBatch = 20, spread = 0.1)
  val annParams: AnnIndex.Params = AnnIndex.Params(nCells = 8, m = 8, pqCells = 32, nProbe = 3)

  /** Zipf exponent 0.99 is YCSB's `ZipfianGenerator.ZIPFIAN_CONSTANT`. The
    * `kv_serve` mix follows YCSB's core workloads where they have a
    * counterpart: one upsert per 20 operations is workload B's 5 % update
    * proportion, and a scan covers 1 to 100 rows, uniformly, as workload
    * E's `maxscanlength` 100 with `scanlengthdistribution=uniform`. The
    * other values (users, out-of-order share, rows per trigger, scans and
    * absent keys per cycle, changes per upsert, table and file sizes) are
    * the benchmark's own choice, not taken from measured traffic.
    */
  def make(name: String, ctx: Ctx): Workload = name match {
    case "log_ingest" =>
      new LogIngest(ctx, Inputs.LogShape(shards = 4, rowsPerShard = 2500, users = 2000,
        zipfS = 0.99, outOfOrderShare = 0.1, eventTypes = 6), maxOffsetsPerTrigger = 100)
    case "kv_serve" =>
      new KvServe(ctx, Inputs.KvShape(files = 8, rowsPerFile = 2500, zipfS = 0.99,
        cycleOps = 20, scansPerCycle = 3, absentPerCycle = 3, changesPerUpsert = 50,
        maxScanRows = 100))
    case "ann_index" => new AnnIndex(ctx, annShape, annParams)
  }
}
