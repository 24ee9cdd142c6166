package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration. */
object Sessions {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      // custom Catalyst kernels as SQL functions (simhash64, minhash_signature,
      // float_array_dot, ngram_hashes, rolling_fingerprints, pair_array)
      .withExtensions(new graft.plans.GraftExtensions)
      // the path surface as a catalog: txlog.`/root` is a table of it,
      // so Spark's own grammar serves SELECT/INSERT/DML/DDL on paths.
      // Spark's direct file query (`<format>`.`<path>`) is off: it would
      // claim every two-part name whose head is a source name — txlog is
      // one — and refuse txlog.`/root` whenever the catalog resolves it
      // in a later analyzer pass (TIMESTAMP AS OF <expression>)
      .config("spark.sql.catalog.txlog",
        classOf[graft.plans.TxPathCatalog].getName)
      .config("spark.sql.runSQLOnFiles", "false")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // pandas-permissive semantics (the reference never errors on bad
      // casts/overflow); every oracle query guards its own denominators.
      .config("spark.sql.ansi.enabled", "false")
      // events.parquet carries TIMESTAMP(NANOS) — read as long, convert in
      // Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // AQE re-plans at runtime: broadcast-after-stats, skew-join splitting.
      .config("spark.sql.adaptive.enabled", "true")
      // ObjectHashAggregate (collect_list/collect_set — the basket and
      // posting-list builders) falls back to SORT-based aggregation after
      // only 128 distinct keys by default; our group-bys carry 10^5 small
      // groups per partition, where hashing is strictly better. 64k keeps
      // the hash path for realistic per-partition group counts while the
      // fallback still bounds memory under extreme per-partition key
      // explosions (the lists themselves stay small by construction —
      // baskets and capped posting lists).
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", (1 << 16).toString)
      // the generated-class cache holds only 100 entries by default; a
      // multi-phase tx gate runs ~90 jobs × several codegen units per
      // execution, evicting its own classes mid-run so every re-execution
      // re-compiles through janino. Sized to hold a full session's worth
      // of distinct units (memory cost is bounded: compiled classes, not
      // plans).
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // InferFiltersFromGenerate turns explode(f(x)) into a pushed-down
      // Filter(size(f(x))>0) in which alias substitution re-inlines f —
      // for lambda-heavy f (shingling) that re-evaluates the full pipeline
      // per array element inside the filter: measured 20x slowdown on the
      // dedup queries. Our explode inputs are explicitly pre-filtered, so
      // the inference only costs.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // Without libhadoop, RawLocalFileSystem.setPermission FORKS a chmod
      // process per created file (parquet file, .crc sidecar, txlog commit
      // JSON, checkpoint file) — profiled as ~20% of busy executor samples
      // on the tx write path. NioLocalFileSystem is behavior-identical
      // (same checksummed `file:` scheme, same permission bits) but applies
      // permissions with a java.nio syscall; sticky-bit and non-POSIX cases
      // fall back to the stock path. Scheme-scoped by construction: it only
      // ever binds `file:` paths. See graft.sources.NioRawLocalFileSystem.
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.sources.NioLocalFileSystem].getName)
      // managed tables (S9/S12 warehouse queries) land in scratch space,
      // never in the repo tree
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse")
    // The two streaming-checkpoint overrides below trade a durability
    // default for measured local throughput, so they are scoped to LOCAL
    // masters (every engine entry point — bench, verify, tools, tests —
    // runs local[*]); a cluster deployment building on Sessions.builder
    // keeps Spark's stock checkpoint durability defaults (the r19
    // advisor's scoping counsel).
    if (!master.startsWith("local")) b
    else b
      // Spark 4.1 writes a CHECKSUM SIDECAR for every streaming-checkpoint
      // file (state-store deltas/snapshots, offsets, commits) and blocks
      // the writing task on a shared await pool per file — profiled as the
      // dominant stall of the stateful-stream micro-batches (executor
      // threads parked in Promise.tryAwait0 under the checksum manager's
      // awaitResult; q204's two 8 s batch jobs). Corruption detection on
      // checkpoint storage is a durability knob, not a correctness one —
      // exactly-once replay is carried by the offset/commit protocol
      // either way — so the LOCAL default is OFF; any session can flip it
      // back.
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      // The default FileContext-based checkpoint manager rides Hadoop's
      // symlink-aware local AFS: EVERY file-status call resolves links via
      // FileUtil.readLink, which FORKS a shell process — thread dumps of
      // the stateful-stream micro-batches show executor tasks serialized
      // behind Shell.execCommand/ProcessBuilder.start (a fork of a
      // multi-GB JVM per checkpoint file op). The FileSystem-based
      // manager does plain renames/statuses with no link resolution;
      // local-FS rename is atomic, so the rename-based commit contract
      // holds unchanged on the local target this scoping selects.
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
  }

  /** Default parallelism when SPARK_GRAFT_CPUS is unset: all cores (the
    * target config is local[32]); capped at 32 so shuffle-partition count
    * stays in sync with the brief on bigger hosts. */
  def defaultCpus: String =
    math.min(32, Runtime.getRuntime.availableProcessors).toString

  def local(cpus: String): SparkSession = {
    val spark = builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
