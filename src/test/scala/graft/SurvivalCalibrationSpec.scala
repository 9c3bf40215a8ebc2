package graft

import org.apache.spark.sql.functions._

/** Serial-model specs for the round-12 eval pair:
  *
  *  - `ev_survival_km` against a plain-Scala Kaplan–Meier estimator on a
  *    hand-built fixture where BOTH labeling paths are live (events at
  *    several ages, horizon-censored AND dropout-censored users) — the
  *    driver corpus at sf0.001 has no censoring at all, so a fixture is
  *    the only way to pin the censored branch;
  *  - `eval_calibration` against a serial rebinning of the exact same
  *    score relation — bit-exact, since both sides fold the same IEEE
  *    terms in the same bin order.
  */
class SurvivalCalibrationSpec extends SparkSpec {

  import graft.operators.Journeys.KmHorizon

  /** events-only fixture dir: (user, day, type) triples at noon UTC. */
  private def eventsDir(rows: Seq[(Long, Int, String)]): String = {
    val dir = tempDir("graft_km_fixture")
    val sess = spark
    import sess.implicits._
    rows.zipWithIndex.map { case ((u, day, tpe), i) =>
      (i.toLong,
        java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00"),
        u, tpe, 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  /** The textbook KM estimator, serial: label users exactly like the
    * entry (event iff first purchase within the horizon, else censored
    * at min(horizon, span)), then fold hazards in age order. */
  private def serialKm(users: Map[Long, (Int, Int, Option[Int])])
      : Seq[(Long, Long, Long, Long, Double)] = {
    val labeled = users.values.toSeq.map { case (d0, dl, fp) =>
      fp.map(_ - d0).filter(_ <= KmHorizon) match {
        case Some(age) => (age.toLong, 1L)
        case None      => (math.min(KmHorizon, dl - d0).toLong, 0L)
      }
    }
    val ages = labeled.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (t, rows) =>
        (t, rows.count(_._2 == 1L).toLong, rows.count(_._2 == 0L).toLong)
    }
    var atRisk = labeled.size.toLong
    var s = 1.0
    ages.map { case (t, d, c) =>
      val n = atRisk
      if (d > 0) s = s * ((n - d).toDouble / n.toDouble)
      atRisk -= d + c
      (t, n, d, c, s)
    }
  }

  test("ev_survival_km matches the serial estimator on a censored fixture") {
    // u1 converts at t=2; u4 at t=0; u5 exactly at the horizon (t=7);
    // u2 purchases at t=9 — PAST the horizon, administratively censored
    // at 7; u3 never purchases and drops out at t=3 (dropout censoring,
    // BEFORE the horizon); u6 never purchases, active past the horizon —
    // censored at 7.
    val rows = Seq[(Long, Int, String)](
      (1L, 1, "view"), (1L, 3, "purchase"),
      (2L, 1, "view"), (2L, 10, "purchase"),
      (3L, 2, "view"), (3L, 5, "click"),
      (4L, 1, "purchase"),
      (5L, 3, "view"), (5L, 10, "purchase"),
      (6L, 1, "view"), (6L, 20, "click"))
    val users = Map[Long, (Int, Int, Option[Int])](
      1L -> (1, 3, Some(3)), 2L -> (1, 10, Some(10)),
      3L -> (2, 5, None), 4L -> (1, 1, Some(1)),
      5L -> (3, 10, Some(10)), 6L -> (1, 20, None))
    val expected = serialKm(users)
    // both labeling branches must be live on this fixture
    assert(expected.map(_._3).sum == 3L, "3 events expected")
    assert(expected.map(_._4).sum == 3L, "3 censorings expected")
    // ... and the curve must actually fall (hazards ran)
    assert(expected.last._5 < 1.0)

    val got = graft.operators.Journeys.survivalKm
      .fn(spark, eventsDir(rows)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(got == expected)
  }

  test("ev_survival_km exercises both paths on the driver corpus (sf0.01)") {
    val got = graft.operators.Journeys.survivalKm
      .fn(spark, sf("sf0.01")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(got.map(_._3).sum > 0L, "no KM events at sf0.01")
    assert(got.map(_._4).sum > 0L, "no KM censorings at sf0.01")
    // risk sets must telescope: n_{t+1} = n_t - d_t - c_t
    got.sliding(2).foreach {
      case Array(a, b) => assert(b._2 == a._2 - a._3 - a._4)
      case _           =>
    }
    // Ŝ is a non-increasing probability
    got.map(_._5).sliding(2).foreach {
      case Array(x, y) => assert(y <= x && y >= 0.0 && x <= 1.0)
      case _           =>
    }
  }

  test("ev_survival_km reduces to the empirical survival when nothing is censored") {
    // textbook identity: with zero censorings, Kaplan–Meier IS the
    // complement of the empirical duration CDF — Ŝ(t) = #{dur > t}/N
    // exactly (each hazard factor telescopes). sf0.001 has every user
    // converting within the horizon, so the identity is live there.
    val got = graft.operators.Journeys.survivalKm
      .fn(spark, sf("sf0.001")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(got.map(_._4).sum == 0L, "fixture expectation: no censoring at sf0.001")
    val n = got.map(r => r._3 + r._4).sum.toDouble
    var seen = 0L
    got.sortBy(_._1).foreach { case (_, _, d, c, sHat) =>
      seen += d + c
      val empirical = (n - seen) / n
      assert(math.abs(sHat - empirical) < 1e-12,
        s"KM $sHat vs empirical $empirical")
    }
  }

  test("eval_calibration matches a serial rebinning bit-exactly") {
    val scored = graft.operators.TextAnalysis.quality
      .fn(spark, sf("sf0.001"))
      .select(col("quality"), col("n_tokens")).collect()
      .map(r => (r.getDouble(0), if (r.getLong(1) >= 50L) 1L else 0L))
    val n = scored.length.toLong
    val bins = scored
      .groupBy { case (v, _) => math.min(math.floor(v * 10.0).toLong, 9L) }
      .toSeq.sortBy(_._1)
      .map { case (b, rows) =>
        val nb = rows.length.toLong
        val np = rows.map(_._2).sum
        val mid = (b.toDouble + 0.5) / 10.0
        val acc = np.toDouble / nb.toDouble
        (b, nb, np, mid, acc, math.abs(acc - mid))
      }
    val ece = bins.foldLeft(0.0) { case (a, (_, nb, _, _, _, gap)) =>
      a + nb.toDouble / n.toDouble * gap
    }
    val expected = bins.map { case (b, nb, np, mid, acc, gap) =>
      (b, nb, np, mid, acc, gap, ece)
    }
    val got = graft.operators.Eval.calibration
      .fn(spark, sf("sf0.001")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6))).toSeq
    assert(got == expected)
    // the lesson the entry teaches: the heuristic blend ranks well
    // (eval_auc) but is NOT calibrated — a material ECE, not noise
    assert(ece > 0.05)
  }

  /** Midrank AUC of (score, label) pairs — the serial textbook form. */
  private def serialAuc(pairs: Seq[(Double, Long)]): Double = {
    val sorted = pairs.sortBy(_._1)
    // midranks over ties
    val ranks = scala.collection.mutable.Map.empty[Double, Double]
    var i = 0
    while (i < sorted.length) {
      var j = i
      while (j < sorted.length && sorted(j)._1 == sorted(i)._1) j += 1
      ranks(sorted(i)._1) = (i + 1 + j).toDouble / 2.0
      i = j
    }
    val np = pairs.count(_._2 == 1L).toDouble
    val nn = pairs.length - np
    val rs = pairs.filter(_._2 == 1L).map(p => ranks(p._1)).sum
    (rs - np * (np + 1) / 2.0) / (np * nn)
  }

  test("eval_recalibrated matches serial stack-PAV; post-ECE < 0.1; AUC preserved") {
    val scored = graft.operators.TextAnalysis.quality
      .fn(spark, sf("sf0.001"))
      .select(col("quality"), col("n_tokens")).collect()
      .map(r => (r.getDouble(0), if (r.getLong(1) >= 50L) 1L else 0L))
    val n = scored.length.toLong
    val bins = scored
      .groupBy { case (v, _) => math.min(math.floor(v * 10.0).toLong, 9L) }
      .toSeq.sortBy(_._1)
      .map { case (b, rows) =>
        (b, rows.length.toLong, rows.map(_._2).sum)
      }
    // textbook pool-adjacent-violators, n-weighted, over the bin list —
    // an INDEPENDENT algorithm from the entry's minimax join spelling;
    // the PAV minimax theorem says the fitted values coincide, and the
    // block values are the same rationals (Σpos/Σn) so the doubles
    // match bit-for-bit
    val stack = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, List[Long])] // (n, n_pos, member bins)
    bins.foreach { case (b, nb, np) =>
      var cur = (nb, np, List(b))
      while (stack.nonEmpty && {
        val p = stack.last
        p._2.toDouble / p._1.toDouble > cur._2.toDouble / cur._1.toDouble
      }) {
        val p = stack.remove(stack.length - 1)
        cur = (p._1 + cur._1, p._2 + cur._2, p._3 ++ cur._3)
      }
      stack += cur
    }
    val pcal: Map[Long, Double] = stack.flatMap { case (bn, bp, members) =>
      members.map(_ -> bp.toDouble / bn.toDouble)
    }.toMap
    val ecePost = bins.foldLeft(0.0) { case (a, (b, nb, np)) =>
      a + nb.toDouble / n.toDouble *
        math.abs(np.toDouble / nb.toDouble - pcal(b))
    }
    val expected = bins.map { case (b, nb, np) =>
      (b, nb, np, (b.toDouble + 0.5) / 10.0, np.toDouble / nb.toDouble,
        pcal(b), ecePost)
    }
    val got = graft.operators.Eval.recalibrated
      .fn(spark, sf("sf0.001")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6))).toSeq
    assert(got == expected)
    // calibrated: the isotonic fit brings the ECE under the threshold
    // the heuristic misses by 3x (eval_calibration's ≈ 0.27)
    assert(ecePost < 0.1, s"post-calibration ECE $ecePost")
    // monotone map — ranking preserved up to pooled ties
    val inOrder = bins.map(b => pcal(b._1))
    assert(inOrder == inOrder.sorted, s"isotonic fit not monotone: $inOrder")
    // ranking preservation, stated honestly: the isotonic FIT is weakly
    // monotone on bins, so it preserves the BINNED ranking exactly —
    // pooling can only merge adjacent bins into ties (here ecePost = 0
    // means no pooling at all, so binned and calibrated AUC coincide).
    // The drop from the RAW score's AUC to the binned AUC is the price
    // of histogram binning itself (10 bins over ~100 docs = heavy
    // ties), a property of the binning resolution, not of the fit.
    val aucRaw = serialAuc(scored.map { case (v, y) => (v, y) })
    def bin(v: Double) = math.min(math.floor(v * 10.0).toLong, 9L)
    val aucBinned = serialAuc(scored.map { case (v, y) =>
      (bin(v).toDouble, y) })
    val aucCal = serialAuc(scored.map { case (v, y) => (pcal(bin(v)), y) })
    info(f"AUC raw=$aucRaw%.4f binned=$aucBinned%.4f " +
      f"calibrated=$aucCal%.4f ecePost=$ecePost%.4f")
    assert(aucCal <= aucBinned + 1e-12,
      "a monotone map cannot rank better than its input")
    assert(math.abs(aucCal - aucBinned) < 0.02,
      s"the fit changed the binned ranking materially: $aucBinned vs $aucCal")
  }
}
