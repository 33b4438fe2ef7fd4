package perfbench

/** One client request and the check its answer must pass. `check` returns
  * the first discrepancy, or None. */
final case class Panel(name: String, q: String, check: Seq[Series] => Option[String])

/** The Grafana-style statements and their generator-derived answers. */
final class Panels(g: Gen) {
  import Panels._

  def rfc(s: Long): String = java.time.Instant.ofEpochSecond(s).toString
  private def window(lo: Long, hi: Long) = s"time >= '${rfc(lo)}' AND time < '${rfc(hi)}'"

  /** Bucket starts (epoch s) of width w that overlap [lo, hi). */
  private def buckets(lo: Long, hi: Long, w: Long): Seq[Long] =
    (Math.floorDiv(lo, w) * w) until hi by w

  // ---- the dashboard mix, over the settled store [0, kEnd) -------------

  /** Single host, last hour, 1m means; the window runs 5m past the data
    * so fill(null) has empty buckets to fill. */
  def hostMinute(h: Int, kEnd: Long): Panel = {
    val e = g.timeS(kEnd)
    val (lo, hi) = (e - 55 * 60, e + 5 * 60)
    Panel("host_1m",
      s"SELECT mean(usage_user) FROM cpu WHERE host = '${g.host(h)}' AND ${window(lo, hi)} " +
        "GROUP BY time(1m) fill(null)",
      ss => one(ss) { s =>
        val want = buckets(lo, hi, 60).map { b =>
          val ks = g.ks(math.max(b, lo), math.min(b + 60, hi), kEnd)
          b -> (if (ks.isEmpty) None else Some(g.mean(ks.map(g.usageUser(h, _)))))
        }
        rows(s, "mean", want)
      })
  }

  /** One region, last hour, 5m max per host. */
  def regionFiveMinute(r: Int, kEnd: Long): Panel = {
    val e = g.timeS(kEnd)
    val (lo, hi) = (e - 3600, e)
    Panel("region_5m",
      s"SELECT max(usage_system) FROM cpu WHERE region = 'region$r' AND ${window(lo, hi)} " +
        "GROUP BY time(5m), host",
      ss => perHost(ss, g.hostsIn(r)) { (h, s) =>
        rows(s, "max", buckets(lo, hi, 300).map { b =>
          b -> Some(g.ks(b, b + 300, kEnd).map(g.usageSystem(h, _)).max)
        })
      })
  }

  /** Fleet-wide hourly p95 of usage_idle over the whole store. */
  def fleetP95(kEnd: Long): Panel = {
    val (lo, hi) = (g.timeS(0), g.timeS(kEnd))
    Panel("fleet_p95",
      s"SELECT percentile(usage_idle, 95) FROM cpu WHERE ${window(lo, hi)} GROUP BY time(1h)",
      ss => one(ss) { s =>
        rows(s, "percentile", buckets(lo, hi, 3600).map { b =>
          val ks = g.ks(b, b + 3600, kEnd)
          b -> Some(g.percentile(for (h <- 0 until g.hosts; k <- ks) yield g.usageIdle(h, k), 95))
        })
      })
  }

  /** last() per host. */
  def lastPerHost(kEnd: Long): Panel =
    Panel("last_host", "SELECT last(usage_user) FROM cpu GROUP BY host",
      ss => perHost(ss, 0 until g.hosts) { (h, s) =>
        lastValue(s, h, Seq(kEnd - 1))
      })

  def tagValues: Panel =
    Panel("tag_values", "SHOW TAG VALUES WITH KEY = \"host\"", ss => {
      val got = ss.flatMap(s => s.values.map(_(s.col("value")).asText)).toSet
      val want = (0 until g.hosts).map(g.host).toSet
      if (got == want) None else Some(s"tag values ${got.toSeq.sorted} != ${want.toSeq.sorted}")
    })

  /** The first rows of one host's last hour. */
  def rawLimit(h: Int, kEnd: Long, limit: Int = 20): Panel = {
    val lo = g.timeS(kEnd) - 3600
    Panel("raw_limit",
      s"SELECT usage_user, procs FROM cpu WHERE host = '${g.host(h)}' AND time >= '${rfc(lo)}' " +
        s"LIMIT $limit",
      ss => one(ss) { s =>
        val ks = g.ks(lo, Long.MaxValue / 2, kEnd).take(limit)
        val (ti, ui, pi) = (s.col("time"), s.col("usage_user"), s.col("procs"))
        val got = s.values.map(r => (r(ti).asLong, r(ui).asDouble, r(pi).asLong))
        val want = ks.map(k => (g.timeS(k), g.usageUser(h, k), g.procs(h, k)))
        if (got == want) None else Some(s"raw rows ${got.take(3)}… != ${want.take(3)}…")
      })
  }

  def dashboardMix(i: Long, kEnd: Long): Seq[Panel] = {
    val h = java.lang.Math.floorMod(g.seed + i * 7, g.hosts.toLong).toInt
    Seq(hostMinute(h, kEnd), regionFiveMinute((h + i.toInt) % Gen.Regions, kEnd),
      fleetP95(kEnd), lastPerHost(kEnd), tagValues, rawLimit((h + 3) % g.hosts, kEnd))
  }

  // ---- continuous-query target -----------------------------------------

  /** The CQ target's newest bucket for host h once points [0, kEnd) landed. */
  def cqBucket(h: Int, kEnd: Long, target: String = "cpu_1m"): Panel = {
    val b = Math.floorDiv(g.timeS(kEnd - 1), 60L) * 60L
    val want = g.mean(g.ks(b, b + 60, kEnd).map(g.usageUser(h, _)))
    Panel("cq_poll",
      s"SELECT mean FROM $target WHERE host = '${g.host(h)}' AND ${window(b, b + 60)}",
      ss => one(ss)(s => rows(s, "mean", Seq(b -> Some(want)))))
  }

  // ---- whole-store checks, run once after the timed phase ---------------

  /** Every acknowledged point counted once: per-host counts. */
  def countPerHost(kEnd: Long): Panel =
    Panel("count_host", "SELECT count(procs) FROM cpu GROUP BY host",
      ss => perHost(ss, 0 until g.hosts) { (_, s) =>
        val n = s.values.map(_(s.col("count")).asLong).sum
        if (n == kEnd) None else Some(s"count $n != $kEnd")
      })

  /** Every CQ bucket equals the mean of its source points. */
  def cqTarget(kEnd: Long): Panel =
    Panel("cq_target", "SELECT mean FROM cpu_1m GROUP BY host",
      ss => perHost(ss, 0 until g.hosts) { (h, s) =>
        rows(s, "mean", buckets(g.timeS(0), g.timeS(kEnd), 60).map { b =>
          b -> Some(g.mean(g.ks(b, b + 60, kEnd).map(g.usageUser(h, _))))
        })
      })

  // ---- shape helpers -----------------------------------------------------

  private def one(ss: Seq[Series])(f: Series => Option[String]): Option[String] =
    ss match {
      case Seq(s) => f(s)
      case _ => Some(s"expected one series, got ${ss.size}")
    }

  private def perHost(ss: Seq[Series], hosts: Seq[Int])(
      f: (Int, Series) => Option[String]): Option[String] = {
    val byHost = ss.map(s => s.tags.getOrElse("host", "?") -> s).toMap
    val want = hosts.map(g.host)
    if (byHost.keySet != want.toSet || byHost.size != ss.size)
      Some(s"series hosts ${byHost.keys.toSeq.sorted} != ${want.sorted}")
    else hosts.iterator.flatMap(h => f(h, byHost(g.host(h)))).nextOption()
  }

  private def rows(s: Series, col: String, want: Seq[(Long, Option[Double])]): Option[String] = {
    val (ti, vi) = (s.col("time"), s.col(col))
    val got = s.values.map(r => r(ti).asLong -> Option(r(vi)).filterNot(_.isNull).map(_.asDouble))
    if (got.size != want.size)
      return Some(s"$col: ${got.size} rows, want ${want.size}")
    got.zip(want).collectFirst {
      case ((t, v), (wt, wv)) if t != wt || v.isDefined != wv.isDefined ||
          v.zip(wv).exists { case (a, b) => !close(a, b) } =>
        s"$col at ${rfc(wt)}: got ${rfc(t)} $v, want $wv"
    }
  }

  private def lastValue(s: Series, h: Int, candidates: Seq[Long]): Option[String] = {
    val vi = s.col("last")
    s.values match {
      case Seq(r) =>
        val v = r(vi).asDouble
        if (candidates.exists(k => close(g.usageUser(h, k), v))) None
        else Some(s"last(${g.host(h)}) = $v not among ${candidates.size} candidate points")
      case vs => Some(s"last(${g.host(h)}): ${vs.size} rows")
    }
  }

}

object Panels {
  def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
}
