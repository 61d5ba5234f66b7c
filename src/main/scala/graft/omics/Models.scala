package graft.omics

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.stats.Dist

/** Small per-group model kernels that need an in-memory solve:
  * multi-covariate OLS (the MethylMix covariate branch) and per-gene
  * complete-linkage probe clustering. Group sizes are samples-per-gene /
  * probes-per-gene — small by construction (SURVEY §7.4) — so each group
  * fits one task while Spark distributes the groups. Both kernels group
  * on the column (`groupBy(col(...)).as[String, Obs]`), not a key lambda:
  * `groupByKey(_.field)` adds an `AppendColumns` copy of the key to every
  * shuffled row.
  */
object Models {

  // ---------------------------------------------------------------- OLS --

  final case class OlsObs(group: String, y: Double, xs: Seq[Double])
  final case class OlsRow(group: String, n: Long, coef: Seq[Double],
                          slope: Double, t_slope: Double, p_slope: Double, r2: Double)

  /** Per-group OLS of y ~ [1, x1..xk] via normal equations (in-task Gaussian
    * elimination) — the covariate case of MethylMix_ModelGeneExpression
    * (MethylMix.R:192-199, lm(GE ~ MET + factor(batch))). `slope`/t/p refer
    * to the first covariate (the methylation term in the reference). */
  def olsMultiPerGroup(df: DataFrame, groupCol: String, yCol: String,
                       xCols: Seq[String]): Dataset[OlsRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    val k = xCols.size
    df.select(col(groupCol).cast("string").as("group"),
        col(yCol).cast("double").as("y"),
        array(xCols.map(c => col(c).cast("double")): _*).as("xs"))
      .groupBy(col("group")).as[String, OlsObs]
      .flatMapGroups { (g, it) =>
        val obs = it.toArray.sortBy(o => (o.y, o.xs.mkString(",")))
        val n = obs.length
        val p = k + 1
        if (n <= p) Iterator.empty
        else {
          // X'X and X'y with intercept column
          val xtx = Array.ofDim[Double](p, p)
          val xty = Array.ofDim[Double](p)
          var yy = 0.0; var ysum = 0.0
          obs.foreach { o =>
            val row = 1.0 +: o.xs.toArray
            var i = 0
            while (i < p) {
              xty(i) += row(i) * o.y
              var j = 0
              while (j < p) { xtx(i)(j) += row(i) * row(j); j += 1 }
              i += 1
            }
            yy += o.y * o.y; ysum += o.y
          }
          solve(xtx, xty).map { beta =>
            val xtxInv = invert(xtx)
            val rss = {
              var s = yy
              var i = 0
              while (i < p) { s -= beta(i) * xty(i); i += 1 }
              math.max(s, 0.0)
            }
            val tss = yy - ysum * ysum / n
            val sigma2 = rss / (n - p)
            val se1 = math.sqrt(sigma2 * xtxInv(1)(1))
            val tStat = if (se1 > 0) beta(1) / se1 else Double.NaN
            val pVal = Dist.tTail2(tStat, (n - p).toDouble)
            OlsRow(g, n.toLong, beta.map(r6).toSeq, r6(beta(1)), r6(tStat),
              r6(pVal), r6(if (tss > 0) 1.0 - rss / tss else Double.NaN))
          }.iterator
        }
      }
  }

  private def solve(a0: Array[Array[Double]], b0: Array[Double]): Option[Array[Double]] = {
    val n = b0.length
    val a = a0.map(_.clone()); val b = b0.clone()
    var i = 0
    while (i < n) {
      var piv = i
      var j = i + 1
      while (j < n) { if (math.abs(a(j)(i)) > math.abs(a(piv)(i))) piv = j; j += 1 }
      if (math.abs(a(piv)(i)) < 1e-12) return None
      val tmp = a(i); a(i) = a(piv); a(piv) = tmp
      val tb = b(i); b(i) = b(piv); b(piv) = tb
      j = i + 1
      while (j < n) {
        val f = a(j)(i) / a(i)(i)
        var c = i
        while (c < n) { a(j)(c) -= f * a(i)(c); c += 1 }
        b(j) -= f * b(i)
        j += 1
      }
      i += 1
    }
    val x = new Array[Double](n)
    i = n - 1
    while (i >= 0) {
      var s = b(i)
      var j = i + 1
      while (j < n) { s -= a(i)(j) * x(j); j += 1 }
      x(i) = s / a(i)(i)
      i -= 1
    }
    Some(x)
  }

  private def invert(a: Array[Array[Double]]): Array[Array[Double]] = {
    val n = a.length
    Array.tabulate(n) { i =>
      val e = Array.fill(n)(0.0); e(i) = 1.0
      solve(a, e).getOrElse(Array.fill(n)(Double.NaN))
    }.transpose
  }

  // ------------------------------------------------- per-gene clustering --

  final case class ProbeObs(gene: String, probe: String, sample: String, value: Double)
  final case class ClusterRow(gene: String, probe: String, cluster: Int)

  /** Per-gene complete-linkage clustering of probes at 1-cor distance, cut
    * at height h (Download_Preprocess.R:1433-1482: hclust(as.dist(1-cor)),
    * cutree(h = 1-0.4)). Probes-per-gene is ≤ ~50, so the linkage runs
    * in-task; cluster ids are canonicalized by each cluster's
    * lexicographically-smallest probe for determinism.
    *
    * The 1-cor distance is computed from EXACT decimal raw sums over the
    * pair's shared samples, with the closing arithmetic in a fixed double
    * op order — so for fixed-precision inputs (e.g. 6-decimal means) the
    * whole distance matrix, and therefore every merge decision, is
    * bit-identical to a SQL replay with DECIMAL sums (the q_hclust_probes
    * oracle). Ties in the merge argmin break on the canonical
    * (lexicographically-smallest-member) cluster-id pair. */
  def clusterProbesPerGene(df: DataFrame, geneCol: String, probeCol: String,
                           sampleCol: String, valueCol: String,
                           h: Double = 0.6): Dataset[ClusterRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(geneCol).cast("string").as("gene"),
        col(probeCol).cast("string").as("probe"),
        col(sampleCol).cast("string").as("sample"),
        col(valueCol).cast("double").as("value"))
      .groupBy(col("gene")).as[String, ProbeObs]
      .flatMapGroups { (gene, it) =>
        val rows = it.toArray
        val probes = rows.map(_.probe).distinct.sorted
        val dist = distanceMatrix(rows, probes)
        val assign = completeLinkageCut(dist, h)
        // canonical cluster ids: order clusters by smallest member probe
        val groups = probes.indices.groupBy(assign)
          .toSeq.map { case (_, idxs) => idxs.map(probes).min -> idxs }
          .sortBy(_._1).zipWithIndex
        groups.flatMap { case ((_, idxs), cid) =>
          idxs.map(i => ClusterRow(gene, probes(i), cid + 1))
        }.iterator
      }
  }

  /** Pairwise 1-cor distance matrix over `probes` for one gene's rows.
    *
    * Hot path: when every finite cell value is an exact ≤6-decimal
    * decimal that fits a scaled long (true of the round(x, 6) means this
    * kernel is fed in practice), each value converts ONCE to integer
    * micros and every pair's raw sums accumulate in 64/128-bit integer
    * arithmetic — the identical exact rationals the BigDecimal path
    * produces, closed out to double by the same nearest-even rounding
    * (see [[corDistMicros]]), so merge decisions are bit-identical while
    * skipping the per-pair-per-sample Double.toString/BigDecimal work
    * that dominated this kernel's profile (~2.5× the whole query). Any
    * unconvertible finite value falls the whole gene back to the
    * BigDecimal path. */
  private[graft] def distanceMatrix(rows: Array[ProbeObs],
                                    probes: Array[String]): Array[Array[Double]] = {
    val samples = rows.map(_.sample).distinct.sorted
    val pIdx = probes.zipWithIndex.toMap
    val sIdx = samples.zipWithIndex.toMap
    val nP = probes.length
    val nS = samples.length
    val vals = Array.ofDim[Long](nP, nS)
    val present = Array.ofDim[Boolean](nP, nS)
    var fast = true
    var maxAbs = 0L
    // fill in row order: a duplicated (probe, sample) keeps the LAST
    // value, matching the Map-building semantics of the fallback path
    var r = 0
    while (fast && r < rows.length) {
      val row = rows(r)
      val pi = pIdx(row.probe)
      val si = sIdx(row.sample)
      if (!java.lang.Double.isFinite(row.value)) {
        present(pi)(si) = false
      } else {
        val m = microsExact(row.value)
        if (m == Long.MinValue) fast = false
        else {
          vals(pi)(si) = m; present(pi)(si) = true
          val a = math.abs(m)
          if (a > maxAbs) maxAbs = a
        }
      }
      r += 1
    }
    // the micros kernel's Σx/Σy are plain 64-bit sums (and Σx², 128-bit):
    // magnitudes where nS terms could wrap must take the exact BigDecimal
    // path — per-value long fit alone does not bound the SUM. The 64-bit
    // linear-sum bound dominates (the 128-bit quadratic one is looser).
    if (maxAbs > Long.MaxValue / math.max(nS, 1)) fast = false
    if (fast) {
      Array.tabulate(nP, nP) { (i, j) =>
        if (i == j) 0.0
        else corDistMicros(vals(i), present(i), vals(j), present(j))
      }
    } else {
      val byProbe: Map[String, Map[String, Double]] =
        rows.groupBy(_.probe).map { case (p, rs) =>
          p -> rs.map(x => x.sample -> x.value).toMap
        }
      Array.tabulate(nP, nP) { (i, j) =>
        if (i == j) 0.0
        else corDistExact(byProbe(probes(i)), byProbe(probes(j)))
      }
    }
  }

  /** `v` as exact integer micros (scale-6), or Long.MinValue when `v` is
    * not exactly a ≤6-decimal value in long range (the sentinel itself is
    * ~-9.2e12 micros — unreachable by any ≤6-decimal double's exact
    * representation that equals it, since longValueExact would have to
    * land on it exactly; data anywhere near that magnitude has scale 0). */
  private def microsExact(v: Double): Long =
    try {
      new java.math.BigDecimal(java.lang.Double.toString(v))
        .movePointRight(6).longValueExact()
    } catch { case _: ArithmeticException => Long.MinValue }

  /** Exact-integer twin of [[corDistExact]] over scale-6 micros: Σx, Σy in
    * 64-bit; Σxy, Σxx, Σyy as 128-bit signed accumulators (a product of
    * two scale-6 longs is a scale-12 128-bit integer). The closing
    * conversion routes each exact rational through BigDecimal.doubleValue
    * — the same nearest-even rounding the BigDecimal path applies — and
    * then the identical fixed double op order. */
  private[omics] def corDistMicros(xa: Array[Long], pa: Array[Boolean],
                                   xb: Array[Long], pb: Array[Boolean]): Double = {
    var n = 0
    var sx = 0L; var sy = 0L
    var sxyHi = 0L; var sxyLo = 0L
    var sxxHi = 0L; var sxxLo = 0L
    var syyHi = 0L; var syyLo = 0L
    var i = 0
    val len = xa.length
    while (i < len) {
      if (pa(i) && pb(i)) {
        val x = xa(i); val y = xb(i)
        n += 1; sx += x; sy += y
        var pl = x * y
        var ph = Math.multiplyHigh(x, y)
        var nl = sxyLo + pl
        sxyHi += ph + (if (java.lang.Long.compareUnsigned(nl, sxyLo) < 0) 1L else 0L)
        sxyLo = nl
        pl = x * x; ph = Math.multiplyHigh(x, x)
        nl = sxxLo + pl
        sxxHi += ph + (if (java.lang.Long.compareUnsigned(nl, sxxLo) < 0) 1L else 0L)
        sxxLo = nl
        pl = y * y; ph = Math.multiplyHigh(y, y)
        nl = syyLo + pl
        syyHi += ph + (if (java.lang.Long.compareUnsigned(nl, syyLo) < 0) 1L else 0L)
        syyLo = nl
      }
      i += 1
    }
    if (n < 2) return 1.0
    val nd = n.toDouble
    val dsx = java.math.BigDecimal.valueOf(sx, 6).doubleValue
    val dsy = java.math.BigDecimal.valueOf(sy, 6).doubleValue
    val num = nd * d128(sxyHi, sxyLo, 12) - dsx * dsy
    val d1 = nd * d128(sxxHi, sxxLo, 12) - dsx * dsx
    val d2 = nd * d128(syyHi, syyLo, 12) - dsy * dsy
    if (d1 <= 0 || d2 <= 0) 1.0 else 1.0 - num / math.sqrt(d1 * d2)
  }

  /** Signed 128-bit (hi:lo) at decimal `scale` → nearest double (exact
    * rational through BigDecimal, same rounding as the BigDecimal path). */
  private def d128(hi: Long, lo: Long, scale: Int): Double = {
    val bytes = new Array[Byte](16)
    var k = 0
    while (k < 8) {
      bytes(k) = (hi >>> (56 - 8 * k)).toByte
      bytes(k + 8) = (lo >>> (56 - 8 * k)).toByte
      k += 1
    }
    new java.math.BigDecimal(new java.math.BigInteger(bytes), scale).doubleValue
  }

  /** 1 - pearson(a, b) over the SHARED samples, from exact decimal raw
    * sums (n, Σx, Σy, Σxy, Σxx, Σyy as BigDecimal ≡ SQL DECIMAL sums)
    * closed out in a fixed double op order. No-signal cases (n < 2 or a
    * zero variance) map to distance 1.0. */
  private[omics] def corDistExact(xa: Map[String, Double],
                                  xb: Map[String, Double]): Double = {
    // non-finite cells count as missing (the previous NaN-vector path
    // dropped such pairs too; BigDecimal would throw on them)
    val shared = xa.keySet.intersect(xb.keySet).filter(s =>
      java.lang.Double.isFinite(xa(s)) && java.lang.Double.isFinite(xb(s)))
    val n = shared.size
    if (n < 2) return 1.0
    var sx, sy, sxy, sxx, syy = BigDecimal(0)
    shared.foreach { s =>
      val x = BigDecimal(java.lang.Double.toString(xa(s)))
      val y = BigDecimal(java.lang.Double.toString(xb(s)))
      sx += x; sy += y; sxy += x * y; sxx += x * x; syy += y * y
    }
    val nd = n.toDouble
    val dsx = sx.toDouble; val dsy = sy.toDouble
    val num = nd * sxy.toDouble - dsx * dsy
    val d1 = nd * sxx.toDouble - dsx * dsx
    val d2 = nd * syy.toDouble - dsy * dsy
    if (d1 <= 0 || d2 <= 0) 1.0 else 1.0 - num / math.sqrt(d1 * d2)
  }

  /** Complete-linkage agglomeration; stop merging when the best merge
    * distance exceeds h; return cluster assignment per index. */
  private[omics] def completeLinkageCut(dist: Array[Array[Double]], h: Double): Array[Int] = {
    // cluster id = smallest member index; the argmin scans id pairs in
    // ascending (a, b) order with a strict <, so equal-distance merges
    // resolve to the smallest canonical pair — the same total order a SQL
    // replay's ORDER BY (d, ca, cb) row_number produces
    val n = dist.length
    val assign = Array.tabulate(n)(identity)
    var done = n <= 1
    while (!done) {
      val ids = assign.distinct.sorted
      if (ids.length <= 1) done = true
      else {
        var best = Double.PositiveInfinity
        var ba = -1; var bb = -1
        var ai = 0
        while (ai < ids.length) {
          var bi = ai + 1
          while (bi < ids.length) {
            val a = ids(ai); val b = ids(bi)
            var m = Double.NegativeInfinity
            var i = 0
            while (i < n) {
              if (assign(i) == a) {
                var j = 0
                while (j < n) {
                  if (assign(j) == b && dist(i)(j) > m) m = dist(i)(j)
                  j += 1
                }
              }
              i += 1
            }
            if (m < best) { best = m; ba = a; bb = b }
            bi += 1
          }
          ai += 1
        }
        if (best <= h) {
          var i = 0
          while (i < n) { if (assign(i) == bb) assign(i) = ba; i += 1 }
        } else done = true
      }
    }
    assign
  }

  private def r6(x: Double): Double = math.rint(x * 1e6) / 1e6
}
