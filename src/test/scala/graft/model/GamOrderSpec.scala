package graft.model

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** A group's fit must not depend on the order its rows arrive in: the
  * shuffle behind `Gam.fitPredict` delivers them in fetch order, and
  * `Glm`'s normal-equation sums are floating-point sums in row order.
  */
class GamOrderSpec extends SparkSpec {
  import spark.implicits._

  private val start = java.time.LocalDateTime.parse("2019-03-01T00:00")
    .toEpochSecond(java.time.ZoneOffset.UTC)

  /** Overdispersed hourly counts for one node; every 50th hour has a
    * second reading, so rows tie on epochSec and differ only in y. */
  private def rows(group: String, seed: Long): Seq[Gam.TrainRow] = {
    val rnd = new scala.util.Random(seed)
    (0 until 24 * 45).flatMap { h =>
      val t = start + h * 3600L
      val f = Gam.feats(t)
      def draw() = math.round(80 * (1.3 + math.sin(f.itime / 86400.0 * 2 * math.Pi)) *
        (if (f.weekday == 0) 0.6 else 1.0) * math.exp(0.5 * rnd.nextGaussian())).toDouble
      val extra = if (h % 50 == 0) Seq(draw()) else Nil
      (draw() +: extra).map(Gam.TrainRow(group, "I-94", t, _))
    }
  }

  private def bits(f: Glm.Fit): Seq[Long] =
    (f.beta :+ f.alpha).toSeq.map(java.lang.Double.doubleToRawLongBits)

  test("fitGroup: permuted rows give identical β and α") {
    val cfg = Gam.Config(hourly = true)
    val base = rows("n1", 7)
    val fit = Gam.fitGroup(base, cfg)
    assert(fit.alpha > 0)
    for (seed <- 1 to 3) {
      val shuffled = new scala.util.Random(seed).shuffle(base)
      assert(shuffled != base)
      assert(bits(Gam.fitGroup(shuffled, cfg)) == bits(fit), s"permutation $seed")
    }
    val grid = (0 until 24).map(h => start + 50L * 86400 + h * 3600L)
    assert(Gam.fitScoreGroup(base.reverse, grid, cfg).toSeq ==
      Gam.fitScoreGroup(base, grid, cfg).toSeq)
  }

  test("fitPredict: same predictions from 1 partition and from 4 shuffled ones") {
    val df = (rows("n1", 11) ++ rows("n2", 12))
      .map(r => (r.group, r.carry, new java.sql.Timestamp(r.epochSec * 1000), r.y))
      .toDF("NODE_NAME", "CORRIDOR_ROUTE", "START_DATETIME", "VOLUME")
    def predict(in: org.apache.spark.sql.DataFrame) =
      Gam.fitPredict(in, "NODE_NAME", "CORRIDOR_ROUTE", "START_DATETIME", "VOLUME",
        "2019-04-20 00:00:00", "2019-04-21 23:00:00", 3600L, Gam.Config(hourly = true))
        .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    val one = predict(df.coalesce(1))
    assert(one.size == 2 * 48)
    assert(predict(df.orderBy(rand(5)).repartition(4)) == one)
  }
}
