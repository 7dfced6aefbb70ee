package graft

import org.apache.spark.sql.functions._

import graft.queries.Similarity
import graft.sources.AnnIndexStore

/** Build-once/query-many: the persisted IVF index answers identically
  * to the in-session build, and its cid-partitioned layout prunes a
  * probe's scan to the probed cells' directories. */
class AnnIndexStoreSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("IVF index round-trips through parquet and answers identically") {
    val (cents, cells) = Similarity.buildIvfIndex(spark, dir)
    val fresh = Similarity.queryIvf(spark, dir, cents, cells).collect().toSeq
    assert(fresh.nonEmpty)
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    AnnIndexStore.write(tmp, cents, cells)
    val (c2, a2) = AnnIndexStore.read(spark, tmp)
    val reloaded = Similarity.queryIvf(spark, dir, c2, a2).collect().toSeq
    assert(reloaded == fresh)
  }

  test("s_ivf_store_probe scans the artifact with a cid PartitionFilter " +
      "and matches s_ivf_ann") {
    val probe = Similarity.queries("s_ivf_store_probe")(spark, dir)
    val plan = probe.queryExecution.executedPlan.toString
    // the cells scan must carry the probe's cid set as a PARTITION
    // filter (directory pruning), not a post-scan data filter
    assert(plan.contains("PartitionFilters: [cid"),
      s"expected cid PartitionFilters in:\n$plan")
    val viaStore = probe.collect().toSeq
    val inSession = Similarity.queries("s_ivf_ann")(spark, dir).collect().toSeq
    assert(viaStore == inSession)
  }

  test("readCells prunes to exactly the requested cell ids") {
    val (cents, cells) = Similarity.buildIvfIndex(spark, dir)
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivf-rc").toString
    AnnIndexStore.write(tmp, cents, cells)
    val cids = cents.select("cid").orderBy("cid").limit(2)
      .collect().map(_.getLong(0)).toSeq
    val pruned = AnnIndexStore.readCells(spark, tmp, cids)
    assert(pruned.select("cid").distinct().collect().map(_.getLong(0)).toSet
      == cids.toSet)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cid"),
      s"expected cid PartitionFilters in:\n$plan")
  }

  test("ANN query results memoize per (session, corpus): same instance " +
      "on re-call, so recall evals join cached frames") {
    val a = Similarity.queries("s_lsh_ann")(spark, dir)
    val b = Similarity.queries("s_lsh_ann")(spark, dir)
    assert(a eq b, "the ANN memo must return the same checkpointed frame")
    CacheBook.release(spark, "s")
    val c = Similarity.queries("s_lsh_ann")(spark, dir)
    assert(!(a eq c), "release must evict the memo so a rebuild happens")
    CacheBook.release(spark, "s")
  }

  test("batch append == one-shot assignment of the union; compact retires " +
      "and preserves the probe result") {
    import spark.implicits._
    // the standing index starts from the first 300 vectors' cells; two
    // nightly batches append the rest — read-back must equal assigning
    // ALL vectors to the base centroids in one shot (the per-vector
    // argmax is batching-independent by construction)
    val all = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("n", graft.functions.VecOps.norm(col("v")))
    val base = all.filter(col("vec_id") < 300)
    val cents = base.orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(8)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("n").as("cn"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivf-ap").toString
    AnnIndexStore.write(tmp, cents, AnnIndexStore.assign(base, cents))
    AnnIndexStore.append(spark, tmp,
      all.filter(col("vec_id") >= 300 && col("vec_id") % 2 === 0))
    AnnIndexStore.append(spark, tmp,
      all.filter(col("vec_id") >= 300 && col("vec_id") % 2 === 1))
    def cellsOf(p: String) = AnnIndexStore.read(spark, p)._2
      .select("vec_id", "cid").as[(Long, Long)].collect().sorted.toSeq
    val expected = AnnIndexStore.assign(all, cents)
      .select("vec_id", "cid").as[(Long, Long)].collect().sorted.toSeq
    assert(cellsOf(tmp) == expected)
    // retire the odd vec_ids; survivors keep their cells, partition
    // layout (and so the probe pruning contract) survives the rewrite
    AnnIndexStore.compact(spark, tmp,
      all.filter(col("vec_id") % 2 === 1).select("vec_id"))
    assert(cellsOf(tmp) == expected.filter(_._1 % 2 == 0))
    val someCid = cents.select("cid").orderBy("cid").head().getLong(0)
    val live = graft.sources.StagedWrite.resolve(spark, tmp, "cells")
    val probe = spark.read.parquet(s"$live/cells").filter(col("cid") === someCid)
    assert(probe.queryExecution.executedPlan.toString.contains("PartitionFilters"),
      "compacted cells must keep the cid-partitioned layout")
  }

  test("cell probe prunes the scan to the probed partitions") {
    val (cents, cells) = Similarity.buildIvfIndex(spark, dir)
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivf-p").toString
    AnnIndexStore.write(tmp, cents, cells)
    val someCid = cents.select("cid").orderBy("cid").head().getLong(0)
    val live = graft.sources.StagedWrite.resolve(spark, tmp, "cells")
    val probe = spark.read.parquet(s"$live/cells").filter(col("cid") === someCid)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cid"),
      s"expected cid partition pruning in:\n$plan")
    assert(probe.count() > 0)
  }

  test("sig-augmented cells round-trip: the BQ payload lives IN the index files") {
    // the s_ivf_bq docstring's claim made real: write the cells WITH
    // the two sign-signature halves, and the store hands them back —
    // both on a full read and on the pruned probe path — so a query
    // session can run the hamming pass straight off the index files,
    // no corpus-side join
    val (cents, cells) = Similarity.buildIvfIndex(spark, dir)
    val sigCells = cells
      .withColumn("s1", Similarity.bqSig(col("v"), 0))
      .withColumn("s2", Similarity.bqSig(col("v"), 32))
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivf-sig").toString
    AnnIndexStore.write(tmp, cents, sigCells)
    def sigsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "s1", "s2").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val (_, back) = AnnIndexStore.read(spark, tmp)
    assert(back.columns.contains("s1") && back.columns.contains("s2"))
    assert(sigsOf(back) == sigsOf(sigCells))
    val cids = cents.select("cid").orderBy("cid").limit(2)
      .collect().map(_.getLong(0)).toSeq
    val pruned = AnnIndexStore.readCells(spark, tmp, cids)
    assert(pruned.columns.contains("s1") && pruned.columns.contains("s2"))
    assert(sigsOf(pruned) == sigsOf(sigCells.filter(col("cid").isin(cids: _*))))

    // mixed-schema guard: appending a batch WITHOUT the payload into a
    // sig-bearing store must fail loudly at the write (a silent append
    // would leave the cell directories with mixed parquet schemas and
    // a nondeterministic reload)
    val raw = cells.select("vec_id", "v", "n").limit(3)
    val e = intercept[IllegalArgumentException] {
      AnnIndexStore.append(spark, tmp, raw)
    }
    assert(e.getMessage.contains("payload"))
    CacheBook.releaseAll(spark)
  }

  test("s_maxsim_tok probes the STANDING token artifact with cid partition pruning") {
    // the r12 verdict's missing #2 closed: the per-token entry reads
    // the persisted token cells (pointer resolve + pruned directories),
    // never rebuilding the 8N-row explode + assignment per call
    val (probe, touched) = CacheBook.traced {
      Similarity.queries("s_maxsim_tok")(spark, dir)
    }
    // the memoized result is a checkpoint leaf since round 14 — the
    // pruned standing-cell scan lives in the recorded BUILD plan
    val plan = probe.queryExecution.executedPlan.toString + "\n" +
      touched.map { case (sc, nm) => CacheBook.buildPlan(spark, sc, nm) }
        .mkString("\n")
    assert(plan.contains("PartitionFilters: [cid"),
      s"expected cid PartitionFilters (standing token cells) in:\n${plan.take(4000)}")
    assert(probe.count() > 0)
    graft.CacheBook.releaseAll(spark)
  }
}
