package graft.operators

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => ScTest}

import graft.SparkSpec

/** Property pin for the generic [[AsofJoin]]: on arbitrary inputs —
  * tiny key/timestamp domains chosen to FORCE equal-ts collisions on
  * both sides, duplicate left rows, keys with empty right sides, and
  * composite keys — the operator equals the brute-force definition:
  * per left row, the right row with max (ts, tie) among same-key
  * rows at-or-before it.
  */
class AsofJoinPropertySpec extends SparkSpec {

  private def check(prop: Prop, minTests: Int): Unit = {
    val res = ScTest.check(
      ScTest.Parameters.default.withMinSuccessfulTests(minTests), prop)
    assert(res.passed, res.status.toString)
  }

  // tiny domains on purpose: collisions are the interesting inputs
  private val rowGen = for {
    k <- Gen.chooseNum(0, 2)
    ts <- Gen.chooseNum(0L, 12L)
    v <- Gen.chooseNum(-5L, 5L)
  } yield (k, ts, v)

  private val caseGen = for {
    lefts <- Gen.listOfN(12, rowGen)
    rights <- Gen.listOfN(12, rowGen)
  } yield (lefts, rights.zipWithIndex.map { case ((k, ts, v), i) =>
    (k, ts, i.toLong, v) }) // tie = unique index

  private def brute(
      lefts: Seq[(Int, Long, Long)],
      rights: Seq[(Int, Long, Long, Long)]): Seq[(Int, Long, Long, Option[(Long, Long, Long)])] =
    lefts.map { case (k, ts, v) =>
      val best = rights.filter(r => r._1 == k && r._2 <= ts)
        .sortBy(r => (r._2, r._3)).lastOption
      (k, ts, v, best.map(r => (r._3, r._4, r._2)))
    }

  test("asofJoin == brute force on adversarially colliding inputs") {
    import spark.implicits._
    check(Prop.forAll(caseGen) { case (lefts, rights) =>
      val l = lefts.toDF("k", "us", "lv")
        .select($"k", timestamp_micros($"us").as("ts"), $"lv")
      val r = rights.toDF("k", "us", "tie", "rv")
        .select($"k", timestamp_micros($"us").as("ts"), $"tie", $"rv")
      val got = AsofJoin.asofJoin(l, r, Seq("k"), "ts", "tie")
        .select($"k", unix_micros($"ts"), $"lv",
          $"asof.tie", $"asof.rv", unix_micros($"asof.asof_ts"))
        .collect()
        .map(x => (x.getInt(0), x.getLong(1), x.getLong(2),
          if (x.isNullAt(3)) None
          else Some((x.getLong(3), x.getLong(4), x.getLong(5)))))
        .toSeq
      val want = brute(lefts, rights)
      got.sortBy(_.toString) == want.sortBy(_.toString)
    }, minTests = 10)
  }

  test("asofJoinSliced == asofJoin on adversarially colliding inputs, any width") {
    import spark.implicits._
    // widths straddle the ts domain (0..12 µs): 1 = a slice per distinct
    // ts (maximal stitching), 3 = partial slices, 100 = one slice (the
    // sliced form degenerates to the single window). Output must be
    // width-invariant — slicing is a parallelism knob, not semantics.
    check(Prop.forAll(caseGen) { case (lefts, rights) =>
      val l = lefts.toDF("k", "us", "lv")
        .select($"k", timestamp_micros($"us").as("ts"), $"lv")
      val r = rights.toDF("k", "us", "tie", "rv")
        .select($"k", timestamp_micros($"us").as("ts"), $"tie", $"rv")
      def run(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.select($"k", unix_micros($"ts"), $"lv",
          $"asof.tie", $"asof.rv", unix_micros($"asof.asof_ts"))
          .collect().map(_.toString).toSeq.sorted
      val single = run(AsofJoin.asofJoin(l, r, Seq("k"), "ts", "tie"))
      Seq(1L, 3L, 100L).forall { w =>
        run(AsofJoin.asofJoinSliced(l, r, Seq("k"), "ts", "tie", w)) == single
      } &&
        // the DERIVED default (span/parallelism census) is just another
        // width — row-identity must hold for it too
        run(AsofJoin.asofJoinSliced(l, r, Seq("k"), "ts", "tie")) == single
    }, minTests = 8)
  }

  test("sliced two-phase == single window on a deliberately hot-keyed timeline") {
    import spark.implicits._
    // one bot key owns ~half of all rows — the skew shape the sliced
    // form exists for. ts is a raw LONG here (q59's bigint as-of key),
    // exercising the numeric-ts slice path; width 10 splits the hot
    // key's timeline across ~10 slices, so phase-2 stitching (including
    // right-empty slices inheriting across gaps) does real work.
    val hotL = (0L until 50L).map(i => (0, i * 2, i))
    val coldL = (0L until 50L).map(i => ((i % 7 + 1).toInt, i * 2 + 1, i))
    val hotR = (0L until 40L).map(i => (0, i * 3, i, i * 10))
    val coldR = (0L until 10L).map(i => ((i % 7 + 1).toInt, i * 5, 100 + i, i))
    val l = (hotL ++ coldL).toDF("k", "ts", "lv")
    val r = (hotR ++ coldR).toDF("k", "ts", "tie", "rv")
    def run(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(col("k"), col("ts"), col("lv"),
        col("asof.tie"), col("asof.rv"), col("asof.asof_ts"))
        .collect().map(_.toString).toSeq.sorted
    val single = run(AsofJoin.asofJoin(l, r, Seq("k"), "ts", "tie"))
    val sliced = run(AsofJoin.asofJoinSliced(l, r, Seq("k"), "ts", "tie", 10L))
    assert(sliced == single)
    assert(single.count(_.contains("null")) < single.size,
      "fixture must produce real matches")
    // the stitch must cross slices: some left row's match lives in an
    // earlier slice than the row itself (inherited carry, not local)
    val crossSlice = AsofJoin
      .asofJoinSliced(l, r, Seq("k"), "ts", "tie", 10L)
      .filter(col("asof").isNotNull &&
        expr("ts div 10") =!= expr("asof.asof_ts div 10"))
      .count()
    assert(crossSlice > 0, "fixture exercises no cross-slice inheritance")
  }

  test("forward direction == brute force, and sliced == single window, any width") {
    import spark.implicits._
    // forward brute force: the EARLIEST right at-or-after; among
    // equal-ts rights the largest tie wins (same tie rule as backward)
    def bruteFwd(
        lefts: Seq[(Int, Long, Long)],
        rights: Seq[(Int, Long, Long, Long)]): Seq[(Int, Long, Long, Option[Long])] =
      lefts.map { case (k, ts, v) =>
        val qual = rights.filter(r => r._1 == k && r._2 >= ts)
        val best = qual.sortBy(r => (r._2, -r._3)).headOption
        (k, ts, v, best.map(_._3))
      }
    check(Prop.forAll(caseGen) { case (lefts, rights) =>
      val l = lefts.toDF("k", "ts", "lv")
      val r = rights.toDF("k", "ts", "tie", "rv")
      def run(df: org.apache.spark.sql.DataFrame): Seq[(Int, Long, Long, Option[Long])] =
        df.select($"k", $"ts", $"lv", $"asof.tie").collect()
          .map(x => (x.getInt(0), x.getLong(1), x.getLong(2),
            if (x.isNullAt(3)) None else Some(x.getLong(3)))).toSeq
      val single = run(AsofJoin.asofJoin(l, r, Seq("k"), "ts", "tie", "forward"))
      val want = bruteFwd(lefts, rights)
      single.sortBy(_.toString) == want.sortBy(_.toString) &&
        Seq(1L, 3L, 100L).forall { w =>
          run(AsofJoin.asofJoinSliced(l, r, Seq("k"), "ts", "tie", w, "forward"))
            .sortBy(_.toString) == single.sortBy(_.toString)
        }
    }, minTests = 8)
  }

  test("tolerance == brute force with a gap cap, in both directions and both forms") {
    import spark.implicits._
    val tol = 3L
    def brute(
        lefts: Seq[(Int, Long, Long)],
        rights: Seq[(Int, Long, Long, Long)],
        fwd: Boolean): Seq[(Int, Long, Long, Option[Long])] =
      lefts.map { case (k, ts, v) =>
        val qual = rights.filter(r => r._1 == k &&
          (if (fwd) r._2 >= ts else r._2 <= ts))
        val best =
          if (fwd) qual.sortBy(r => (r._2, -r._3)).headOption
          else qual.sortBy(r => (r._2, r._3)).lastOption
        // the cap nulls the MATCHED row when too far — it never
        // promotes a nearer-but-not-best row
        (k, ts, v, best.filter(r => math.abs(r._2 - ts) <= tol).map(_._3))
      }
    check(Prop.forAll(caseGen) { case (lefts, rights) =>
      val l = lefts.toDF("k", "ts", "lv")
      val r = rights.toDF("k", "ts", "tie", "rv")
      def run(df: org.apache.spark.sql.DataFrame): Seq[(Int, Long, Long, Option[Long])] =
        df.select($"k", $"ts", $"lv", $"asof.tie").collect()
          .map(x => (x.getInt(0), x.getLong(1), x.getLong(2),
            if (x.isNullAt(3)) None else Some(x.getLong(3)))).toSeq
      Seq("backward", "forward").forall { d =>
        val want = brute(lefts, rights, d == "forward").sortBy(_.toString)
        run(AsofJoin.asofJoin(l, r, Seq("k"), "ts", "tie", d, Some(tol)))
          .sortBy(_.toString) == want &&
          run(AsofJoin.asofJoinSliced(l, r, Seq("k"), "ts", "tie", 3L, d, Some(tol)))
            .sortBy(_.toString) == want
      }
    }, minTests = 8)
  }

  test("null keys group together, identically in both forms") {
    import spark.implicits._
    // null keys are one window partition (NOT SQL join never-match):
    // the sliced form's null-safe stitch must realize the same carry,
    // including cross-slice inheritance for the null-key group
    val l = Seq((Some(1), 10L, 1L), (None, 10L, 2L), (None, 95L, 3L))
      .toDF("k", "ts", "lv")
    val r = Seq((Some(1), 5L, 10L, 7L), (None, 4L, 11L, 8L))
      .toDF("k", "ts", "tie", "rv")
    def run(df: org.apache.spark.sql.DataFrame): Map[Long, Option[Long]] =
      df.select(col("lv"), col("asof.rv")).collect()
        .map(x => x.getLong(0) -> (if (x.isNullAt(1)) None else Some(x.getLong(1))))
        .toMap
    val single = run(AsofJoin.asofJoin(l, r, Seq("k"), "ts", "tie"))
    // width 10: the null-key left at ts=95 sits slices away from the
    // null-key right at ts=4 — the match MUST come via inheritance
    val sliced = run(AsofJoin.asofJoinSliced(l, r, Seq("k"), "ts", "tie", 10L))
    assert(single == Map(1L -> Some(7L), 2L -> Some(8L), 3L -> Some(8L)))
    assert(sliced == single, s"$sliced != $single")
  }

  test("composite keys: the join key is (k1, k2), never k1 alone") {
    import spark.implicits._
    val l = Seq((0, 0, 10L, 1L), (0, 1, 10L, 2L)).toDF("k1", "k2", "us", "lv")
      .select($"k1", $"k2", timestamp_micros($"us").as("ts"), $"lv")
    val r = Seq((0, 0, 5L, 0L, 7L), (1, 1, 5L, 1L, 8L))
      .toDF("k1", "k2", "us", "tie", "rv")
      .select($"k1", $"k2", timestamp_micros($"us").as("ts"), $"tie", $"rv")
    def collect(df: org.apache.spark.sql.DataFrame): Map[Long, Option[Long]] =
      df.select($"lv", $"asof.rv").collect()
        .map(x => x.getLong(0) -> (if (x.isNullAt(1)) None else Some(x.getLong(1))))
        .toMap
    for (got <- Seq(
        collect(AsofJoin.asofJoin(l, r, Seq("k1", "k2"), "ts", "tie")),
        collect(AsofJoin.asofJoinSliced(l, r, Seq("k1", "k2"), "ts", "tie", 4L)))) {
      assert(got(1L) == Some(7L), s"(0,0) must match its own composite key: $got")
      assert(got(2L).isEmpty, s"(0,1) must NOT borrow (0,0)'s right row: $got")
    }
  }

  test("derived width census costs the same jobs on every call; explicit width none") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("asof-census").toString
    Seq((1, 10L, 1L), (1, 95L, 2L)).toDF("k", "ts", "lv")
      .write.mode("overwrite").parquet(s"$dir/l")
    Seq((1, 5L, 10L, 7L), (1, 90L, 11L, 8L)).toDF("k", "ts", "tie", "rv")
      .write.mode("overwrite").parquet(s"$dir/r")
    val l = spark.read.parquet(s"$dir/l")
    val r = spark.read.parquet(s"$dir/r")

    // the census is a blocking head() at PLAN-BUILD time, so jobs
    // launched while CONSTRUCTING the frame count it directly
    // no cross-call memo: every derived-width call pays its own census,
    // in either direction, so no call can ever read a stale span
    val first = jobsDuring {
      AsofJoin.asofJoinSliced(l, r, Seq("k"), "ts", "tie")
    }
    assert(first >= 1, "a derived-width call must run the census")
    val second = jobsDuring {
      AsofJoin.asofJoinSliced(l, r, Seq("k"), "ts", "tie")
    }
    assert(second == first, s"every call runs the census ($first then $second jobs)")
    val fwd = jobsDuring {
      AsofJoin.asofJoinSliced(l, r, Seq("k"), "ts", "tie",
        direction = "forward", tolerance = Some(1000L))
    }
    assert(fwd == first, s"forward direction runs the same census ($fwd jobs)")
    // data rewritten under the SAME path is censused afresh
    Seq((1, 10L, 1L)).toDF("k", "ts", "lv")
      .write.mode("overwrite").parquet(s"$dir/l")
    val l2 = spark.read.parquet(s"$dir/l")
    val rewritten = jobsDuring {
      AsofJoin.asofJoinSliced(l2, r, Seq("k"), "ts", "tie")
    }
    assert(rewritten == first, s"rewritten input must be censused ($rewritten jobs)")
    // an explicit width is a pure plan: nothing runs while building it
    val explicit = jobsDuring {
      AsofJoin.asofJoinSliced(l, r, Seq("k"), "ts", "tie", 10L)
    }
    assert(explicit == 0, s"explicit sliceWidth ran $explicit jobs")
  }
}
