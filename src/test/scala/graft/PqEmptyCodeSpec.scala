package graft

import graft.queries.Similarity

/** Degenerate-input contract for the PQ Lloyd loop: on a corpus of
  * duplicated vectors several seed codes share one sub-centroid, L2 ties
  * send every sub-vector to the lowest such code, and the others get
  * zero assignments. Here subspace 0 has one distinct sub-vector and the
  * others four, so the recomputed codebook would be ragged (1 code vs 4
  * per bank). An empty code keeps its previous centroid, so each bank
  * stays full width and the PQ entries still answer. */
class PqEmptyCodeSpec extends SparkSpec {

  test("s_pq_ann answers when a code gets zero assignments (duplicated vectors)") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(7)
    val shared = Array.fill(8)(rnd.nextGaussian().toFloat)
    val protos = Array.fill(4)(shared ++ Array.fill(56)(rnd.nextGaussian().toFloat))
    val tmp = java.nio.file.Files.createTempDirectory("pq-dup").toString
    (0 until 64).map(i => (i.toLong, protos(i % 4), i % 4))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$tmp/embeddings.parquet")
    try {
      val got = Similarity.queries("s_pq_ann")(spark, tmp)
        .select("q", "vec_id").as[(Long, Long)].collect().toSeq
      // a duplicate's sub-vectors encode to exactly its prototype's codes,
      // so the top-5 of query q are its prototype's other copies, ADC
      // ties broken by vec_id
      val want = (0L until 5L).flatMap(q =>
        (0L until 64L).filter(v => v != q && v % 4 == q % 4).take(5).map(v => (q, v)))
      assert(got.sorted == want.sorted)
      val dist = Similarity.queries("s_pq_distortion")(spark, tmp).collect()
      assert(dist.map(_.getInt(0)).toSeq == (0 until 8), "one row per subspace")
      assert(dist.forall(_.getLong(1) == 64L), "every vector scored in every subspace")
    } finally {
      CacheBook.releaseAll(spark)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }
}
