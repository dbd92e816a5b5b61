package graft.perfbench

import graft.core.{HllSketch, HtmlText, ReqSketch, TextOps, ThetaSketch}

/** Single-threaded timings of the `graft.core` kernels and sketches over a
  * fixed sample of the workload's own documents and candidate pairs. Each
  * figure is the median of five timed passes after one untimed pass. */
object Kernels {
  @volatile private var sink: Long = 0L

  private def perItem(items: Int)(body: => Long): Double = {
    sink += body
    val ts = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      sink += body
      (System.nanoTime() - t0).toDouble / items
    }
    Stats.median(ts)
  }

  /** `htmls` and `texts` are a sample of the workload's pages; `pairs` are
    * candidate pairs of texts. */
  def measure(out: Outcome, tracer: Tracer, htmls: IndexedSeq[Array[Byte]],
              texts: IndexedSeq[String], pairs: IndexedSeq[(String, String)],
              urls: IndexedSeq[String], ids: IndexedSeq[Long]): Unit = tracer.span("core") {
    def us(nsPerItem: Double) = nsPerItem / 1000.0
    if (htmls.nonEmpty)
      out.layer("core.extract_us_per_doc",
        us(perItem(htmls.length)(htmls.map(h => HtmlText.extract(h).length.toLong).sum)), "us")
    out.layer("core.doc_features_us_per_doc",
      us(perItem(texts.length)(texts.map(t => TextOps.docFeatures(t).sim).sum)), "us")
    out.layer("core.minhash_us_per_doc",
      us(perItem(texts.length)(texts.map(t => TextOps.minHash(t)(0)).sum)), "us")
    out.layer("core.simhash_us_per_doc",
      us(perItem(texts.length)(texts.map(t => TextOps.simHash64(t)).sum)), "us")
    out.layer("core.winnow_us_per_doc",
      us(perItem(texts.length)(texts.map(t => TextOps.winnowedFingerprints(t).length.toLong).sum)), "us")
    if (pairs.nonEmpty)
      out.layer("core.jaccard_us_per_pair",
        us(perItem(pairs.length)(pairs.map { case (a, b) =>
          (TextOps.jaccardShingles(a, b) * 1000).toLong }.sum)), "us")

    // sketch updates over the sample's own values, repeated to ~200k items
    val lengths = texts.map(_.length.toDouble)
    val reps = math.max(1, 200000 / math.max(1, lengths.length))
    out.layer("core.req_update_ns", perItem(lengths.length * reps) {
      val s = ReqSketch()
      var r = 0
      while (r < reps) { lengths.foreach(s.update); r += 1 }
      s.count
    }, "ns")
    val halves = (0 until 2).map { h =>
      val s = ReqSketch()
      (0 until reps).foreach(r => lengths.foreach(v => s.update(v + h + r % 7)))
      s.serialize()
    }
    // merge mutates its receiver: fresh copies per pass, outside the timing
    val mergeNs = (0 to 5).map { _ =>
      val as = (0 until 20).map(_ => ReqSketch.deserialize(halves(0)))
      val bs = (0 until 20).map(_ => ReqSketch.deserialize(halves(1)))
      val t0 = System.nanoTime()
      as.zip(bs).foreach { case (a, b) => sink += a.merge(b).count }
      (System.nanoTime() - t0) / 20.0
    }.drop(1)
    out.layer("core.req_merge_us", us(Stats.median(mergeNs)), "us")
    out.layer("core.req_serde_us", us(perItem(20) {
      (0 until 20).map(_ => ReqSketch.deserialize(halves(0)).serialize().length.toLong).sum
    }), "us")
    val urlReps = math.max(1, 200000 / math.max(1, urls.length))
    out.layer("core.hll_update_ns", perItem(urls.length * urlReps) {
      val s = HllSketch()
      var r = 0
      while (r < urlReps) { urls.foreach(s.update); r += 1 }
      s.estimate.toLong
    }, "ns")
    val idReps = math.max(1, 200000 / math.max(1, ids.length))
    out.layer("core.theta_update_ns", perItem(ids.length * idReps) {
      val s = ThetaSketch()
      var r = 0
      while (r < idReps) { ids.foreach(i => s.update(i + r)); r += 1 }
      s.retained.toLong
    }, "ns")
  }
}
