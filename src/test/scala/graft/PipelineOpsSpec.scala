package graft

import graft.operators.{Clustering, Components}
import graft.streaming.EventStreams
import graft.streaming.EventStreams.Ev
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Round-2 pipeline operators: connected components against a serial
  * union-find oracle, k-means assignment invariants, and the streaming
  * twin of the earliest-per-key dedup. */
class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  /** Serial union-find oracle for component labels. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("star components match union-find") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(80)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .filter { case (a, b) => a != b }
    val df = edges.toDF("a", "b")
    val star = Components.connectedComponentsStar(df)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star == unionFind(edges))
  }

  test("star components collapse a 256-node path in O(log n) rounds") {
    // the adversarial case for label propagation: diameter 255 would need
    // 255 supersteps; large-star/small-star must stay logarithmic
    val chain = (0L until 255L).map(i => (i, i + 1)).toDF("a", "b")
    val (labels, rounds) = Components.starLoop(chain)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 256 && got.values.toSet == Set(0L))
    info(s"converged in $rounds rounds (diameter 255)")
    assert(rounds <= 12, s"expected O(log n) convergence, took $rounds")
  }

  test("kmeans assignment: seed vectors assign to themselves at distance 0") {
    val r = Clustering.kmeansAssign.fn(spark, sf("sf0.001"))
      .filter(col("vec_id") < 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(r.length == 8)
    r.foreach { case (v, c, d2) =>
      assert(c == v, s"seed $v assigned to $c")
      assert(math.abs(d2) < 1e-9, s"seed $v dist2 $d2")
    }
  }

  test("streaming earliest-per-key dedup == batch aggregation") {
    implicit val sc = spark.sqlContext
    def ts(min: Long): Timestamp = new Timestamp((100000L + min) * 60000L)
    val events = Seq(
      Ev(ts(5), 1, "click", 1.0), Ev(ts(1), 1, "click", 2.0),
      Ev(ts(3), 1, "view", 3.0), Ev(ts(2), 2, "click", 4.0),
      Ev(ts(9), 2, "click", 5.0))
    // event_id column is synthesized as the value's int part for the test
    def withId(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("event_id", col("value").cast("long"))
    val mem = MemoryStream[Ev]
    val q = EventStreams.earliestPerKey(withId(mem.toDF()))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("complete").start()
    mem.addData(events: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("dedup_out").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2), r.getLong(3)))
      .toSet
    val batch = EventStreams.earliestPerKey(withId(events.toDF())).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2), r.getLong(3)))
      .toSet
    assert(streamed == batch)
    // earliest click for user 1 is the ts(1)/id=2 event, not the first-listed
    assert(batch.contains((1L, "click", ts(1), 2L)))
  }

  test("span decontamination strips exactly the doc-level flag set") {
    // text_decontaminate_spans loses tokens on precisely the docs
    // text_decontaminate flags (same 8-gram-overlap criterion, different
    // remedy), and never touches a clean doc's text
    val d = sf("sf0.001")
    val spans = SparkEntry.queries("text_decontaminate_spans")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val cut = spans.filter { case (_, nt, nk) => nk < nt }.map(_._1).toSet
    val flagged = SparkEntry.queries("text_decontaminate")(spark, d)
      .collect().filter(_.getLong(2) > 0).map(_.getLong(0)).toSet
    assert(cut == flagged,
      s"span removals diverge from the doc-level flags: " +
      s"only-spans=${(cut -- flagged).take(5)} only-flag=${(flagged -- cut).take(5)}")
    assert(flagged.nonEmpty, "fixture should contain contaminated docs")
    val untouched = spans.filter { case (_, nt, nk) => nk == nt }
    assert(untouched.nonEmpty, "fixture should contain clean docs too")
  }

  test("curate_dsir matches a serial importance-resampling oracle") {
    // independent plain-Scala re-derivation: hashed-unigram bucket
    // histograms, add-1 smoothed log-ratio, per-doc fold in bucket order
    // (same op sequence as the distributed fold, so scores are
    // bit-identical, not merely close)
    val d = sf("sf0.001")
    val B = 256
    def bucket(w: String): Int = {
      var h = 0L
      w.getBytes.foreach { b => h = (h * 31 + (b & 0xffL)) % 1000000007L }
      (h % B).toInt
    }
    val docs = graft.Tables.documents(spark, d)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).map(bucket))
    val tgtC = new Array[Long](B); val rawC = new Array[Long](B)
    docs.foreach { case (id, bs) =>
      bs.foreach(b => if (id < 50) tgtC(b) += 1 else rawC(b) += 1) }
    val nt = tgtC.sum; val ns = rawC.sum
    def lr(b: Int): Double =
      math.log((tgtC(b) + 1).toDouble / (nt + B)) -
        math.log((rawC(b) + 1).toDouble / (ns + B))
    val want = docs.filter(_._1 >= 50).map { case (id, bs) =>
      val cs = new Array[Long](B); bs.foreach(b => cs(b) += 1)
      var acc = 0.0
      (0 until B).foreach(b => if (cs(b) > 0) acc += cs(b).toDouble * lr(b))
      (id, acc)
    }.sortBy { case (id, w) => (-w, id) }.take(100).map(_._1).toSeq
    val got = graft.operators.Curation.dsirSelect.fn(spark, d)
      .collect().map(_.getLong(0)).toSeq
    assert(got == want)
  }

  test("profile_drift: identical snapshots give exactly-zero PSI terms") {
    // the same (text, lang) rows in both snapshots ⇒ c_old == c_new for
    // every (feature, value) ⇒ p_old == p_new exactly (identical integer
    // divisions) ⇒ psi_term == -0.0/0.0 bit-for-bit, not merely small
    val rows = Seq(("a b c", "en"), ("d e", "de"), ("f g h i", "en"))
    val docs = rows.zipWithIndex.flatMap { case ((t, l), i) =>
      Seq((i.toLong * 2, t, l, true), (i.toLong * 2 + 1, t, l, false)) }
      .toDF("doc_id", "text", "lang", "is_old")
    val out = graft.operators.Profiling.driftOf(docs).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getDouble(4) == r.getDouble(5), r.toString)   // p_old == p_new
      assert(r.getDouble(6) == 0.0, r.toString)              // psi_term
    }
    // and a shifted snapshot must register positive total drift
    val skewed = docs.withColumn("lang",
      when(!col("is_old"), lit("fr")).otherwise(col("lang")))
    val psi = graft.operators.Profiling.driftOf(skewed)
      .filter(col("feature") === "lang").collect().map(_.getDouble(6)).sum
    assert(psi > 0.0)
  }

  test("retrieval_mmr_rerank matches a serial greedy MMR bit-exactly") {
    val d = sf("sf0.001")
    val out = graft.operators.Retrieval.mmrRerank.fn(spark, d).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.length == 5 && out.map(_._1).toSeq == (1 to 5))
    val embs = Tables.embeddings(spark, d).select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.indices.foldLeft(0.0)((s, i) => s + a(i).toDouble * b(i).toDouble)
    def cos(a: Array[Float], b: Array[Float]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    val qv = embs(0L)
    val cand = embs.toSeq.filter(_._1 != 0L)
      .map { case (id, v) => (id, cos(qv, v)) }
      .sortBy { case (id, c) => (-c, id) }.take(20)
    var sel = List((cand.head._1, 0.7 * cand.head._2))
    (2 to 5).foreach { _ =>
      val pick = cand.filterNot(c => sel.exists(_._1 == c._1))
        .map { case (id, qc) =>
          val ms = sel.map(s => cos(embs(id), embs(s._1))).max
          (id, 0.7 * qc - 0.3 * ms)
        }
        .minBy { case (id, m) => (-m, id) }
      sel = sel :+ pick
    }
    out.zip(sel).foreach { case ((_, id, score, qcos), (wantId, wantScore)) =>
      assert(id == wantId, s"pick order: got $id want $wantId")
      assert(score == wantScore)
      assert(qcos == cand.find(_._1 == id).get._2)
    }
  }

  test("stat_ks_test matches a serial two-sample KS computation bit-exactly") {
    val d = sf("sf0.001")
    val r = graft.queries.Statistics.ksTest.fn(spark, d).collect()(0)
    val rows = Tables.lineitem(spark, d)
      .select(col("l_quantity"), col("l_orderkey"))
      .collect().map(x => (x.getDouble(0), x.getLong(1) % 2 == 0))
    val a = rows.filter(_._2).map(_._1)
    val b = rows.filter(!_._2).map(_._1)
    val vs = rows.map(_._1).distinct.sorted
    var best = (-1.0, Double.NaN)
    var (sa, sb) = (0L, 0L)
    vs.foreach { v =>
      sa += a.count(_ == v); sb += b.count(_ == v)
      val dv = math.abs(sa.toDouble / a.length.toDouble -
        sb.toDouble / b.length.toDouble)
      if (dv > best._1) best = (dv, v)
    }
    assert(r.getLong(0) == a.length && r.getLong(1) == b.length)
    assert(r.getDouble(2) == best._1, s"D ${r.getDouble(2)} vs ${best._1}")
    assert(r.getDouble(3) == best._2)
    // a null split over the same distribution: D should be small
    assert(best._1 < 0.2)
  }

  test("cdc_snapshot_diff: all four statuses, counts partition the key union") {
    val d = sf("sf0.001")
    val out = graft.operators.Cdc.snapshotDiff.fn(spark, d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out.keySet == Set("added", "removed", "changed", "unchanged"))
    val n = Tables.orders(spark, d).count()
    val nOld = Tables.orders(spark, d)
      .filter(col("o_orderkey") % 10 =!= 9).count()
    val nNew = Tables.orders(spark, d)
      .filter(col("o_orderkey") % 10 =!= 0).count()
    assert(out.values.map(_._1).sum == n) // keys ≡ 0 or 9 appear once each
    assert(out("added")._1 == n - nOld && out("removed")._1 == n - nNew)
    // every changed row is a +10.00 price bump; unchanged deltas are 0
    assert(out("changed")._2 == out("changed")._1 * 10.0)
    assert(out("unchanged")._2 == 0.0)
  }

  test("ev_pit_features: strictly-before semantics — same-instant observations never leak") {
    import java.sql.Timestamp
    def t(s: Long) = new Timestamp(1705276800000L + s * 1000) // 2024-01-15 UTC
    val ev = Seq(
      // user 1: click at 10, view at 20, purchase at 20 (same instant!),
      // click at 20 (same instant!), purchase at 30
      (100L, t(10), 1L, "click", Some(1.0)),
      (101L, t(20), 1L, "view", Some(2.0)),
      (102L, t(20), 1L, "purchase", Some(9.0)),
      (103L, t(20), 1L, "click", Some(3.0)),
      (104L, t(30), 1L, "purchase", Some(9.0)),
      // user 2: purchase with NO prior features
      (200L, t(5), 2L, "purchase", Some(9.0)),
      // user 3's features must not bleed into user 1
      (300L, t(1), 3L, "click", Some(7.0)))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = graft.operators.AsOfJoin.pitFeaturesOf(ev).collect()
      .map(r => r.getLong(0) -> (
        Option(r.get(3)).map(_.asInstanceOf[Double]),
        Option(r.get(4)).map(_.asInstanceOf[Double]))).toMap
    // purchase 102 at t=20: click@10 visible; view@20 and click@20 are
    // SAME-INSTANT → excluded (the leakage case)
    assert(got(102L) == ((Some(1.0), None)))
    // purchase 104 at t=30: now both t=20 observations are in the past
    assert(got(104L) == ((Some(3.0), Some(2.0))))
    // no history → NULLs; no cross-user bleed
    assert(got(200L) == ((None, None)))
    assert(got.size == 3)
  }

  test("curate_cluster_balanced: quota respected, clusters agree with emb_kmeans_assign, deterministic order") {
    val d = sf("sf0.001")
    val picks = graft.operators.Curation.clusterBalanced.fn(spark, d).collect()
    assert(picks.nonEmpty)
    val assign = Clustering.kmeansAssign.fn(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every pick sits in its kmeans cluster; quota ≤ 16 per cluster;
    // every nonempty cluster is represented (coverage)
    picks.foreach { r =>
      assert(assign(r.getLong(2)) == r.getLong(0))
      assert(r.getInt(1) >= 1 && r.getInt(1) <= 16)
    }
    val perCluster = picks.groupBy(_.getLong(0))
    perCluster.foreach { case (_, rows) =>
      assert(rows.length <= 16)
      assert(rows.map(_.getInt(1)).sorted.toSeq == (1 to rows.length))
    }
    assert(perCluster.keySet == assign.values.toSet)
    // n_cluster matches the true assignment sizes, and full clusters
    // really were subsampled (the balancing claim is non-trivial)
    val sizes = assign.groupBy(_._2).map { case (c, m) => c -> m.size }
    picks.foreach(r => assert(sizes(r.getLong(0)) == r.getLong(3)))
    assert(sizes.values.exists(_ > 16), "fixture must have a dense cluster")
    // priority order is the multiplicative hash, not vec_id order
    val c0 = picks.filter(_.getLong(0) == picks.head.getLong(0))
      .sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
    val expected = assign.filter(_._2 == picks.head.getLong(0)).keys.toSeq
      .sortBy(v => ((v * 2654435761L) % 1000000007L, v)).take(c0.length)
    assert(c0 == expected)
  }

  test("ev_interpolate_linear matches a serial interpolation model bit-exactly") {
    val d = sf("sf0.001")
    val got = graft.operators.Events.interpolate.fn(spark, d)
      .select(col("event_type"), expr("unix_micros(minute_ts)").as("tu"),
        col("value_interp"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(got.nonEmpty)
    // serial model with the identical double expression tree
    val obs = Tables.events(spark, d).filter(col("value").isNotNull)
      .groupBy(col("event_type"), col("ts"))
      .agg(max(col("value")).as("v"))
      .select(col("event_type"), expr("unix_micros(ts)").as("tu"), col("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
      .map { case (k, v) => k -> v.map(t => (t._2, t._3)).sortBy(_._1).toSeq }
    val types = Tables.events(spark, d).select(col("event_type")).distinct()
      .collect().map(_.getString(0))
    val t0 = java.time.Instant.parse("2024-01-15T00:00:00Z")
      .toEpochMilli * 1000L
    var checked = 0
    types.foreach { ty =>
      val series = obs.getOrElse(ty, Seq.empty)
      (0 until 1440).foreach { m =>
        val t = t0 + m * 60000000L
        val pv = series.filter(_._1 <= t).lastOption
        val nv = series.find(_._1 >= t)
        val want: Option[Double] = (pv, nv) match {
          case (Some((pt, p)), _) if pt == t => Some(p)
          case (Some((pt, p)), Some((nt, n))) =>
            Some(p + (n - p) * ((t - pt).toDouble / (nt - pt).toDouble))
          case _ => None
        }
        assert(got((ty, t)) == want, s"$ty minute $m")
        checked += 1
      }
    }
    assert(checked == types.length * 1440 && got.size == checked)
  }

  test("retrieval_hybrid_rrf: exact two-term fusion; dense leg matches a serial cosine ranking") {
    val d = sf("sf0.001")
    val out = graft.operators.Retrieval.hybridRrf.fn(spark, d).collect()
    assert(out.nonEmpty && out.length <= 20)
    def optInt(r: org.apache.spark.sql.Row, c: String): Option[Int] = {
      val i = r.fieldIndex(c)
      if (r.isNullAt(i)) None else Some(r.getInt(i))
    }
    out.foreach { r =>
      val rs = optInt(r, "r_sparse"); val rd = optInt(r, "r_dense")
      assert(rs.nonEmpty || rd.nonEmpty)
      val want = rs.map(x => 1.0 / (60.0 + x)).getOrElse(0.0) +
        rd.map(x => 1.0 / (60.0 + x)).getOrElse(0.0)
      assert(r.getDouble(r.fieldIndex("rrf")) == want, r.toString)
    }
    // serial recompute of the dense leg's top-50 ranking
    val embs = Tables.embeddings(spark, d).select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val qv = embs.find(_._1 == 0L).get._2
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.indices.foldLeft(0.0)((s, i) => s + a(i).toDouble * b(i).toDouble)
    val qn = math.sqrt(dot(qv, qv))
    val denseRank = embs.filter(_._1 != 0L).toSeq
      .map { case (id, v) => (id, dot(qv, v) / (qn * math.sqrt(dot(v, v)))) }
      .sortBy { case (id, c) => (-c, id) }.take(50).zipWithIndex
      .map { case ((id, _), i) => id -> (i + 1) }.toMap
    out.foreach { r =>
      val id = r.getLong(r.fieldIndex("doc_id"))
      assert(optInt(r, "r_dense") == denseRank.get(id), s"doc $id")
    }
    // fused order is rrf-descending with doc_id tie-break
    val pairs = out.map(r =>
      (r.getDouble(r.fieldIndex("rrf")), r.getLong(r.fieldIndex("doc_id"))))
    assert(pairs.sameElements(pairs.sortBy { case (s, id) => (-s, id) }))
  }
}
