package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import graft.operators.DedupOps
import graft.weather.WeatherStats

/** Property-based invariants (SURVEY §5.2.4) over generated weather batches:
  * semantics that must hold for ANY input, not just fixtures.
  */
object WeatherProps extends Properties("weather") {
  lazy val spark = SparkTestSession.spark

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private val cityGen = Gen.oneOf("A", "B", "C", "D")
  private val recGen = for {
    c <- cityGen
    t <- Gen.choose(-20.0, 55.0)
    w <- Gen.oneOf("Clear", "Rain", "Clouds")
  } yield (c, math.rint(t * 100) / 100, w)
  // distinct per-row timestamps (index-derived) so orderings are unambiguous
  private val batchGen = Gen.nonEmptyListOf(recGen).map(_.take(60).zipWithIndex
    .map { case ((c, t, w), i) => (c, t, w, 1000L + i * 7L) })

  private def toDf(rows: List[(String, Double, String, Long)]) = {
    import spark.implicits._
    rows.toDF("city", "temperature", "weather", "timestamp")
      .withColumn("humidity", lit(50))
  }

  property("stats doc: bands partition the batch; bounds ordered") =
    forAll(batchGen) { rows =>
      val stats = WeatherStats.statsDoc(toDf(rows), lit("b"), lit(null).cast("timestamp")).head()
      val dist = stats.getAs[org.apache.spark.sql.Row]("temperature_distribution")
      val bands = Seq("very_cold", "cold", "cool", "moderate", "warm", "hot").map(dist.getAs[Long])
      val (mn, av, mx) = (stats.getAs[Double]("min_temperature"),
        stats.getAs[Double]("avg_temperature"), stats.getAs[Double]("max_temperature"))
      bands.sum == rows.size &&
        stats.getAs[Long]("total_records") == rows.size &&
        stats.getAs[Long]("cities_count") <= rows.size &&
        mn <= av + 1e-9 && av <= mx + 1e-9
    }

  property("stats doc: cities_count is the number of distinct non-null cities") =
    forAll(Gen.listOf(for {
      c <- Gen.option(cityGen)
      r <- recGen
    } yield (c.orNull, r._2, r._3))) { recs =>
      val rows = recs.take(60).zipWithIndex.map { case ((c, t, w), i) => (c, t, w, 1000L + i * 7L) }
      val stats = WeatherStats.statsDoc(toDf(rows), lit("b"), lit(null).cast("timestamp")).head()
      val distinct = rows.map(_._1).filter(_ != null).distinct
      stats.getAs[Long]("cities_count") == distinct.size &&
        stats.getSeq[String](stats.fieldIndex("cities")) == distinct.sorted
    }

  property("latest-per-key snapshot: exactly one row per city, at its max ts") =
    forAll(batchGen) { rows =>
      val w = Window.partitionBy("city").orderBy(col("timestamp").desc)
      val latest = toDf(rows).withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).collect()
      val expected = rows.groupBy(_._1).view.mapValues(_.map(_._4).max).toMap
      latest.length == expected.size &&
        latest.forall(r => expected(r.getAs[String]("city")) == r.getAs[Long]("timestamp"))
    }

  property("lag(1) over city partition equals pandas groupby-shift") =
    forAll(batchGen) { rows =>
      val w = Window.partitionBy("city").orderBy("timestamp")
      val got = toDf(rows)
        .select(col("city"), col("timestamp"), lag(col("temperature"), 1).over(w).as("l"))
        .collect().map(r => (r.getAs[String](0), r.getAs[Long](1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
      val expected = rows.groupBy(_._1).iterator.flatMap { case (_, rs) =>
        val sorted = rs.sortBy(_._4)
        sorted.zip(None +: sorted.init.map(r => Some(r._2)))
          .map { case (r, prev) => (r._1, r._4, prev) }
      }.toSet
      got == expected
    }

  property("exact dedup: survivors are min-ids and copies sum to total") =
    forAll(Gen.nonEmptyListOf(Gen.oneOf("x", "y", "z", "w"))) { texts =>
      import spark.implicits._
      val docs = texts.take(40).zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val out = DedupOps.exactDedup(docs, "text", "doc_id").collect()
      val byText = texts.take(40).zipWithIndex.groupBy(_._1)
      out.length == byText.size &&
        out.map(_.getAs[Long]("n_copies")).sum == math.min(texts.size, 40) &&
        out.forall { r =>
          byText.values.exists(g => g.map(_._2.toLong).min == r.getAs[Long]("survivor"))
        }
    }

  property("clusterLabels: planted chains of size 3-5 collapse to min-id clusters") =
    forAll(Gen.choose(1, 3).flatMap(k => Gen.listOfN(k, Gen.choose(3, 5)))) { sizes =>
      import spark.implicits._
      // disjoint chains with non-contiguous ids, edges emitted pairwise-
      // adjacent only — exactly the shape where one-hop min-id propagation
      // keeps wrong docs (a chain A~B~C never emits (A,C))
      val idBlocks = sizes.zipWithIndex.map { case (n, k) =>
        (0 until n).map(i => (k * 1000 + i * 7 + 3).toLong)
      }
      val pairs = idBlocks.flatMap(ids => ids.zip(ids.tail))
        .toDF("doc_a", "doc_b")
      val labels = DedupOps.clusterLabels(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      labels.size == sizes.sum &&
        idBlocks.forall(ids => ids.forall(id => labels(id) == ids.min))
    }

  property("round4Rat = BigDecimal HALF_UP of num/den for any positive ratio") =
    forAll(Gen.choose(0L, 2000000L), Gen.choose(1L, 9999L)) { (num, den) =>
      import spark.implicits._
      val got = Seq((num, den)).toDF("num", "den")
        .select(graft.queries.Det.round4Rat(col("num"), col("den")).as("r"))
        .head().getDouble(0)
      val want = BigDecimal(num).bigDecimal
        .divide(BigDecimal(den).bigDecimal, 4, java.math.RoundingMode.HALF_UP)
        .doubleValue()
      got == want
    }

  property("sessionize window logic equals a per-user reference fold") =
    forAll(Gen.nonEmptyListOf(for {
      u <- Gen.choose(1L, 4L)
      t <- Gen.choose(0L, 200000L)
    } yield (u, t))) { rows0 =>
      import spark.implicits._
      val gap = 28800L
      val rows = rows0.take(60).distinct
      val df = rows.toDF("user_id", "epoch_s")
      val byTime = Window.partitionBy("user_id").orderBy("epoch_s")
      val got = df
        .withColumn("new_sess",
          when(col("epoch_s") - lag(col("epoch_s"), 1).over(byTime) > gap, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("new_sess")).over(
          byTime.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n"), min("epoch_s").as("lo"), max("epoch_s").as("hi"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
      // independent reference: sort each user's times, split on gap > 28800
      val expected = rows.groupBy(_._1).flatMap { case (u, rs) =>
        val ts = rs.map(_._2).sorted
        val sessions = ts.tail.foldLeft(List(List(ts.head))) { (acc, t) =>
          if (t - acc.head.head > gap) List(t) :: acc
          else (t :: acc.head) :: acc.tail
        }.reverse.map(_.reverse)
        sessions.zipWithIndex.map { case (s, i) =>
          (u, i.toLong, s.size.toLong, s.min, s.max)
        }
      }.toSet
      got == expected
    }

  // as-of join (both physical paths) vs a brute-force in-memory spec:
  // for ANY two relations, every direction and tolerance must match the
  // row-by-row definition of "the closest right row on the allowed side".
  private val asofRowGen = for {
    k <- Gen.choose(1, 4)
    t <- Gen.choose(0L, 40L)
  } yield (k.toLong, t)
  private val asofGen = for {
    ls <- Gen.nonEmptyListOf(asofRowGen).map(_.take(30))
    rs <- Gen.nonEmptyListOf(asofRowGen).map(_.take(30))
  } yield (ls.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) },
    // unique (key, time) on the right: the documented determinism contract
    rs.distinctBy(r => (r._1, r._2)).zipWithIndex
      .map { case ((k, t), i) => (k, t, 1000L + i) })

  property("as-of join (merge + broadcast) equals the brute-force spec") =
    forAll(asofGen, Gen.oneOf("backward", "forward", "nearest"),
      Gen.oneOf(Option.empty[Long], Some(5L))) { case ((ls, rs), dir, tol) =>
      import spark.implicits._
      def spec(lt: Long, key: Long): Option[Long] = {
        val cands = rs.filter(_._1 == key)
        def ok(d: Long) = tol.forall(d <= _)
        val back = cands.filter(_._2 <= lt).sortBy(r => (r._2, r._3)).lastOption
          .filter(r => ok(lt - r._2))
        val fwd = cands.filter(_._2 >= lt).sortBy(r => (r._2, r._3)).headOption
          .filter(r => ok(r._2 - lt))
        (dir match {
          case "backward" => back
          case "forward" =>
            // equal-time rows belong to both sides; forward takes the
            // LAST equal-time row (merge-exec rule; unique here anyway)
            if (back.exists(_._2 == lt)) back else fwd
          case _ => (back, fwd) match {
            case (Some(b), Some(f)) =>
              if (lt - b._2 <= f._2 - lt) Some(b) else Some(f)
            case (b, f) => b.orElse(f)
          }
        }).map(_._3)
      }
      val expected = ls.map { case (k, t, id) => (id, spec(t, k)) }.toSet
      val ldf = ls.toDF("key", "t", "lid")
      val rdf = rs.toDF("rkey", "rt", "rid")
      def run() = graft.plans.AsOfJoinOps
        .asofJoin(ldf, rdf, Seq("key"), Seq("rkey"), "t", "rt", tol, dir)
        .select("lid", "rid").collect()
        .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long])))
        .toSet
      val broadcast = run()
      spark.conf.set("spark.graft.asof.broadcast", "false")
      val merge = try run()
        finally spark.conf.set("spark.graft.asof.broadcast", "true")
      broadcast == expected && merge == expected
    }

  property("jaccard ∈ [0,1]; 1 iff equal sets") =
    forAll(Gen.nonEmptyListOf(Gen.oneOf("a", "b", "c", "d", "e")),
      Gen.nonEmptyListOf(Gen.oneOf("a", "b", "c", "d", "e"))) { (xs, ys) =>
      import spark.implicits._
      val j = Seq((xs.distinct, ys.distinct)).toDF("x", "y")
        .select(DedupOps.jaccard(col("x"), col("y")).as("j")).head().getDouble(0)
      j >= 0.0 && j <= 1.0 &&
        ((j == 1.0) == (xs.distinct.toSet == ys.distinct.toSet))
    }
}
