package graft

import org.apache.spark.sql.functions._

/** Soak for the round-16 storage-protocol additions, one JSON line:
  *
  *   - TRANSACTION scaling: N two-table transactions (corpus +
  *     fingerprint-index batches through [[graft.catalog.GraftCatalog
  *     .transact]] on the catalog-CAS backend); first-10 vs last-10
  *     per-transaction wall time shows whether the multi-slot commit
  *     stays flat as history accretes, and the same batches pushed as
  *     two plain per-table marker appends give the overhead ratio of
  *     atomicity. Measured at SPARK_GRAFT_SOAK_TXNS=20 on a 4-core
  *     VM it reads ~1.6, not 1: a two-table transaction costs ~1.6×
  *     the two appends. The transactions run first, on a cold JVM, so
  *     `txn_first10_avg_s` (about twice `txn_last10_avg_s`) includes
  *     JVM warm-up, and the ratio carries that warm-up too.
  *   - RENAME throughput: a synthetic many-key location moved through
  *     the copy-based rename protocol (claim / parallel copy /
  *     complete / parallel delete) on the strict object-store
  *     emulation — keys/sec for the parallel path a serial driver
  *     loop could never reach.
  *
  * Run: `sbt "runMain graft.TxnSoak"` (env: SPARK_GRAFT_SOAK_TXNS,
  * SPARK_GRAFT_SOAK_RENAME_KEYS, SPARK_GRAFT_CPUS).
  */
object TxnSoak {
  def main(args: Array[String]): Unit = {
    val nTxns = sys.env.getOrElse("SPARK_GRAFT_SOAK_TXNS", "60").toInt
    val nKeys = sys.env.getOrElse("SPARK_GRAFT_SOAK_RENAME_KEYS", "5000").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", Some(cpus.toInt))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val server = new graft.tableformat.CatalogCommitServer
    graft.tableformat.FileIO.install(
      new graft.tableformat.CatalogFileIO("127.0.0.1", server.port))
    val wh = java.nio.file.Files.createTempDirectory("graft-txnsoak").toString
    val cat = new graft.catalog.GraftCatalog(spark, wh)
    def batch(i: Int) = (0 until 10)
      .map(j => (i * 10L + j, s"text-$i-$j")).toDF("doc_id", "text")
      .coalesce(1)
    def fps(df: org.apache.spark.sql.DataFrame) =
      df.select(md5(col("text")).as("fp")).coalesce(1)

    // ---- transactional path: one atomic claim set per batch
    val corpus = cat.createTable("db", "soak_docs",
      Seq("doc_id" -> "long", "text" -> "string"))
    val idx = cat.createTable("db", "soak_fp", Seq("fp" -> "string"))
    val txnTimes = (0 until nTxns).map { i =>
      val df = batch(i)
      val t0 = System.nanoTime()
      cat.transact(corpus -> df, idx -> fps(df))
      (System.nanoTime() - t0) / 1e9
    }
    require(corpus.read().count() == nTxns * 10L &&
      idx.read().count() == nTxns * 10L, "transactional content drift")
    require(corpus.meta.snapshots.size == nTxns, "one snapshot per txn")

    // ---- baseline: the same batches as two per-table marker appends
    val corpus2 = cat.createTable("db", "soak_docs2",
      Seq("doc_id" -> "long", "text" -> "string"))
    val idx2 = cat.createTable("db", "soak_fp2", Seq("fp" -> "string"))
    val pairTimes = (0 until nTxns).map { i =>
      val df = batch(i)
      val t0 = System.nanoTime()
      corpus2.appendIfNewMarker(df, "graft.soak.batch", i.toLong)
      idx2.appendIfNewMarker(fps(df), "graft.soak.batch", i.toLong)
      (System.nanoTime() - t0) / 1e9
    }

    // ---- r18: SQL transaction CHAINS — MERGE + a chained DELETE on
    // the corpus plus an index insert per transaction. The preview
    // machinery (plan against the chain's preview, collapse to ONE
    // published snapshot) must stay flat as history accretes.
    val corpus3 = cat.createTable("db", "soak_docs3",
      Seq("doc_id" -> "long", "text" -> "string"))
    val idx3 = cat.createTable("db", "soak_fp3", Seq("fp" -> "string"))
    corpus3.append(batch(0))
    spark.conf.set("spark.graft.warehouse", wh)
    val nChains = math.max(nTxns / 3, 10)
    val chainTimes = (0 until nChains).map { i =>
      val t0 = System.nanoTime()
      spark.sql("BEGIN TRANSACTION")
      spark.sql(s"""MERGE INTO graft.db.soak_docs3 t
        USING (SELECT CAST($i AS BIGINT) AS k, 'upd-$i' AS v
               UNION ALL SELECT CAST(${1000000L + i} AS BIGINT), 'tmp-$i') s
        ON t.doc_id = s.k
        WHEN MATCHED THEN UPDATE SET text = s.v
        WHEN NOT MATCHED THEN INSERT (doc_id, text) VALUES (s.k, s.v)""")
      spark.sql(s"INSERT INTO graft.db.soak_fp3 VALUES ('fp-$i')")
      spark.sql(
        s"DELETE FROM graft.db.soak_docs3 WHERE doc_id = ${1000000L + i}")
      spark.sql("COMMIT")
      (System.nanoTime() - t0) / 1e9
    }
    // ids 0..9 update in place; i ≥ 10 inserts id i; the chained
    // DELETE always removes the transaction's own temp row
    require(corpus3.read().count() == 10L + math.max(0, nChains - 10),
      "chain content drift")
    require(corpus3.meta.snapshots.size == 1 + nChains,
      "chained statements must publish ONE snapshot per transaction")
    require(idx3.meta.snapshots.size == nChains, "index snapshot drift")

    // ---- r18: merge-on-read transactional sweeps — positional delete
    // files, base data files untouched
    corpus3.setProperties(Map("write.delete.mode" -> "merge-on-read"))
    val morBase = corpus3.meta.currentSnapshot.get.files.map(_.path)
    val morTimes = (0 until 10).map { i =>
      val t0 = System.nanoTime()
      spark.sql("BEGIN TRANSACTION")
      spark.sql(s"DELETE FROM graft.db.soak_docs3 WHERE doc_id = $i")
      spark.sql(s"INSERT INTO graft.db.soak_fp3 VALUES ('mor-$i')")
      spark.sql("COMMIT")
      (System.nanoTime() - t0) / 1e9
    }
    require(corpus3.read().count() == math.max(0, nChains - 10),
      "MoR sweep content drift")
    require(corpus3.meta.currentSnapshot.get.files.map(_.path)
      .containsSlice(morBase), "MoR sweep rewrote base data files")

    // ---- many-key rename through the parallel protocol
    val io = new graft.tableformat.ObjectStoreFileIO
    val rdir = java.nio.file.Files.createTempDirectory("graft-rensoak").toString
    (1 until nKeys).foreach(i =>
      io.writeString(s"$rdir/src/data/d$i.parquet", s"bytes-$i"))
    io.writeString(s"$rdir/src/metadata/v1.metadata.json", "doc")
    io.writeString(s"$rdir/src/metadata/version-hint.text", "1")
    val r0 = System.nanoTime()
    io.rename(s"$rdir/src", s"$rdir/dst")
    val renameS = (System.nanoTime() - r0) / 1e9
    require(io.listRecursive(s"$rdir/src").isEmpty &&
      io.listRecursive(s"$rdir/dst").size == nKeys + 1,
      "rename content drift")

    def avg(xs: Seq[Double]) = xs.sum / xs.size
    def r3(v: Double) = math.rint(v * 1000) / 1000
    val first10 = r3(avg(txnTimes.take(10)))
    val last10 = r3(avg(txnTimes.takeRight(10)))
    val pairAvg = r3(avg(pairTimes))
    val txnAvg = r3(avg(txnTimes))
    println(s"""{"soak":"transactions","txns":$nTxns""" +
      s""","txn_first10_avg_s":$first10,"txn_last10_avg_s":$last10""" +
      s""","txn_avg_s":$txnAvg,"single_pair_avg_s":$pairAvg""" +
      s""","txn_overhead_ratio":${r3(txnAvg / pairAvg)}""" +
      s""","chains":$nChains""" +
      s""","chain_first10_avg_s":${r3(avg(chainTimes.take(10)))}""" +
      s""","chain_last10_avg_s":${r3(avg(chainTimes.takeRight(10)))}""" +
      s""","chain_avg_s":${r3(avg(chainTimes))}""" +
      s""","chain_one_snapshot_per_txn":true""" +
      s""","mor_sweep_avg_s":${r3(avg(morTimes))}""" +
      s""","mor_base_files_untouched":true""" +
      s""","rename_keys":${nKeys + 1},"rename_s":${r3(renameS)}""" +
      s""","rename_keys_per_s":${math.rint((nKeys + 1) / renameS)}}""")
    server.close()
    spark.stop()
  }
}
