package graft

import java.util.concurrent.{CyclicBarrier, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Cache-lifecycle contract: releasing a family's memoized relations
  * must evict the memo entries too, so a later call REBUILDS from
  * source and still produces the same answer (a stale handle over an
  * unpersisted checkpoint would fail — there is no lineage left to
  * recompute from). */
class CacheBookSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("released dedup caches rebuild and d_cluster still matches itself") {
    val q = queries.Dedup.queries("d_cluster")
    val before = q(spark, dir).collect().map(_.toSeq).toSeq
    assert(before.nonEmpty)
    assert(CacheBook.liveScopes(spark).contains("d"))

    CacheBook.releaseAll(spark)
    assert(CacheBook.liveScopes(spark).isEmpty)

    val after = q(spark, dir).collect().map(_.toSeq).toSeq
    assert(after == before)
    // the rebuild re-registered its caches
    assert(CacheBook.liveScopes(spark).contains("d"))
    CacheBook.releaseAll(spark)
  }

  test("released slice memo rebuilds and the manifest still matches") {
    val q = queries.SliceQueries.queries("slice_manifest")
    val before = q(spark, dir).collect().map(_.toSeq).toSeq
    assert(before.nonEmpty)
    CacheBook.release(spark, "slice")
    val after = q(spark, dir).collect().map(_.toSeq).toSeq
    assert(after == before)
    CacheBook.releaseAll(spark)
  }

  test("released similarity memos (IVF index + PQ model) rebuild identically") {
    // guards the IVF-index/PQ-model release path: after release the
    // memo cells must be evicted (not holding dead checkpoint handles)
    // and a re-run rebuilds to the same answer
    val ivf = queries.Similarity.queries("s_ivfpq_ann")
    val before = ivf(spark, dir).collect().map(_.toSeq).toSeq
    assert(before.nonEmpty)
    assert(CacheBook.liveScopes(spark).contains("s"))
    CacheBook.release(spark, "s")
    assert(!CacheBook.liveScopes(spark).contains("s"))
    val after = ivf(spark, dir).collect().map(_.toSeq).toSeq
    assert(after == before)
    assert(CacheBook.liveScopes(spark).contains("s"))
    CacheBook.releaseAll(spark)
  }

  test("release tolerates unknown scopes and double release") {
    CacheBook.release(spark, "no-such-scope")
    CacheBook.releaseAll(spark)
    CacheBook.releaseAll(spark)
  }

  // ---- the CacheBook.memo contract -------------------------------------
  // Each case uses its own throwaway scope, so no family state moves.

  test("memo: concurrent callers on one key build once and register once") {
    val builds = new AtomicInteger(0)
    val releases = new AtomicInteger(0)
    val threads = (1 to 16).map(_ => new Thread(() => {
      CacheBook.memo(spark, "zm1", "one", "k") {
        Thread.sleep(20); builds.incrementAndGet()
      }(_ => { releases.incrementAndGet(); () })
      ()
    }))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(builds.get() == 1)
    assert(CacheBook.liveNamed(spark).contains(("zm1", "one")))
    CacheBook.release(spark, "zm1")
    assert(releases.get() == 1, "one build, one registration")
    assert(!CacheBook.liveNamed(spark).contains(("zm1", "one")))
  }

  test("memo: two keys build concurrently without deadlock") {
    // each build blocks until BOTH have started: a build that ran under
    // CacheBook's monitor would serialize them past the await timeout
    val gate = new CyclicBarrier(2)
    val done = new AtomicInteger(0)
    def call(key: String) = new Thread(() => {
      CacheBook.memo(spark, "zm2", "pair", key) {
        gate.await(5, TimeUnit.SECONDS); key
      }(_ => ())
      done.incrementAndGet(); ()
    })
    val (ta, tb) = (call("a"), call("b"))
    ta.start(); tb.start(); ta.join(8000); tb.join(8000)
    assert(!ta.isAlive && !tb.isAlive, "independent keys must not serialize")
    assert(done.get() == 2, "both builds must complete through the barrier")
    CacheBook.release(spark, "zm2")
  }

  test("memo: a throwing build is not cached, registers nothing, and retries") {
    val attempts = new AtomicInteger(0)
    def call() = CacheBook.memo(spark, "zm3", "flaky", "k") {
      if (attempts.incrementAndGet() == 1) sys.error("transient")
      "ok"
    }(_ => ())
    intercept[RuntimeException](call())
    assert(!CacheBook.liveScopes(spark).contains("zm3"), "failed build registered")
    assert(call() == "ok" && attempts.get() == 2)
    assert(CacheBook.liveNamed(spark).contains(("zm3", "flaky")))
    CacheBook.release(spark, "zm3")
  }

  test("memo: releaseNamed evicts only that memo; the next call rebuilds it") {
    val (buildsA, buildsB) = (new AtomicInteger(0), new AtomicInteger(0))
    val (relA, relB) = (new AtomicInteger(0), new AtomicInteger(0))
    def a() = CacheBook.memo(spark, "zm4", "a", "k")(buildsA.incrementAndGet())(
      _ => { relA.incrementAndGet(); () })
    def b() = CacheBook.memo(spark, "zm4", "b", "k")(buildsB.incrementAndGet())(
      _ => { relB.incrementAndGet(); () })
    a(); b()
    CacheBook.releaseNamed(spark, Set(("zm4", "a")))
    assert(relA.get() == 1 && relB.get() == 0)
    val live = CacheBook.liveNamed(spark)
    assert(!live.contains(("zm4", "a")) && live.contains(("zm4", "b")))
    assert(a() == 2, "released memo rebuilds")
    assert(b() == 1, "the other memo stays warm")
    assert(CacheBook.liveNamed(spark).contains(("zm4", "a")), "rebuild re-registers")
    CacheBook.release(spark, "zm4")
    assert(relA.get() == 2 && relB.get() == 1)
  }

  test("memo: touch is recorded on both miss and hit") {
    val (_, miss) = CacheBook.traced { CacheBook.memo(spark, "zm5", "t", "k")(1)(_ => ()) }
    val (_, hit) = CacheBook.traced { CacheBook.memo(spark, "zm5", "t", "k")(2)(_ => ()) }
    assert(miss == Seq(("zm5", "t")) && hit == Seq(("zm5", "t")))
    CacheBook.release(spark, "zm5")
  }

  test("memo: an anonymous register during the build attaches to the memo") {
    var inner = false
    CacheBook.memo(spark, "zm6", "m", "k") {
      CacheBook.register(spark, "zm6")(() => inner = true); 1
    }(_ => ())
    CacheBook.releaseNamed(spark, Set(("zm6", "m")))
    assert(inner, "build-side registration must release with the memo")
    CacheBook.release(spark, "zm6")
  }

  // the named memos live after the family builds below, as captured
  // before the memo maps moved into CacheBook.memo
  private val familyMemos: Seq[(String, String)] = Seq(
    "d" -> Seq("bands:*", "cluster_edges", "exact_pairs", "jaccard",
      "kmv_sketch", "kmv_store", "kmv_union", "minhash", "shingles",
      "standing_labels", "tnew"),
    "m" -> Seq("audio_fp", "phash_chunks", "scene_sigs", "tnew"),
    "q" -> Seq("q:basket_ob_arr", "q:basket_pair_rows", "q:basket_sup",
      "q:brand_dict"),
    "s" -> Seq("ann:s_graph_ed", "ann:s_knn_graph", "bf_topk", "ivf:false",
      "ivf:true", "ivf_store", "pq_model", "tok_index", "vec_count"),
    "slice" -> Seq("cust_slice"),
    "x" -> Seq("bpe_merges", "x:bpe_wtok", "x:dsir", "x:lines", "x:lm_grams",
      "x:lm_scores", "x:qclf_scored", "x:spans")
  ).flatMap { case (sc, ns) => ns.map(sc -> _) }.sorted

  test("the family builds leave the same named memos live") {
    CacheBook.releaseAll(spark)
    for (q <- Seq("d_build", "s_index_build", "x_build", "m_build",
        "q_basket_triples", "slice_manifest"))
      SparkEntry.queries(q)(spark, dir).count()
    // band-table names carry a plan identity hash, which varies per run
    val live = CacheBook.liveNamed(spark).toSeq
      .map { case (sc, n) => (sc, n.replaceAll("^bands:.*", "bands:*")) }.sorted
    assert(live == familyMemos)
    CacheBook.releaseAll(spark)
  }
}
