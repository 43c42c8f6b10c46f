package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, TimestampType}

/** AS-OF (temporal / point-in-time) join: for every left row, the
  * single latest right row with the same key and `ts <= left.ts` —
  * the no-label-leakage feature join (join a label event to the
  * feature state as of that moment, never peeking forward).
  *
  * Spark has no ASOF join operator, and the naive encodings don't
  * scale: an inequality join plans BroadcastNestedLoop, and a bounded
  * pair join + window (q51's shape) materializes every (left × prior
  * right) pair. This is the distributed merge-asof: tag both sides,
  * UNION, one window partitioned by the join key ordered by
  * (ts, tag, tie) carrying the most recent right row forward with
  * `last(_, ignoreNulls)`, then keep the left rows. Exactly ONE
  * shuffle (on the key) and one sort for the whole join; nothing is
  * ever materialized per pair, so a key with a million right rows
  * costs a sort, not a quadratic blow-up.
  *
  * Skew: the single-window form serializes each key's ENTIRE timeline
  * through one task — a bot user with 10^8 events at 100× scale is one
  * straggler sort. [[asofJoinSliced]] is the skew-safe two-phase form:
  * slice each key's timeline into fixed-width time buckets, run the
  * same carry-forward window per (key, slice) — so the widest task is
  * one key's busiest slice, not its whole history — then stitch
  * slice-boundary carries with a second window over the tiny
  * (key × slice) frame and `coalesce(local, inherited)`. Output is
  * row-identical to the single-window form for ANY slice width
  * (slicing is monotone in ts, so cross-slice order is preserved and
  * equal timestamps always share a slice); the width is purely a
  * parallelism knob. Cost: the corpus shuffle key gains the slice id
  * (finer = better spread), plus one partial-aggregate census and one
  * broadcast-sized join back.
  *
  * The full pandas/kdb `merge_asof` surface (both forms):
  *
  *  - `direction`: "backward" (default — latest right at-or-before)
  *    or "forward" (earliest right at-or-after, the time-to-next-event
  *    read). Internally one code path: the traversal axis is
  *    SIGNED time units (negated for forward), so slicing, carries,
  *    censuses and stitches are direction-blind.
  *  - `tolerance`: maximum allowed gap in ts units (µs for
  *    TimestampType, raw units for integral ts). A carried right row
  *    farther than the tolerance nulls out — the left row survives
  *    with a null `asof` (the "don't serve stale features" cap) —
  *    applied as a post-projection, so the plan is unchanged.
  *
  * Semantics (both forms): inclusive at equal ts in BOTH directions —
  * a right row at exactly left.ts matches (right rows order strictly
  * before the left row at equal ts in traversal order). Ties among
  * right rows at the same (key, ts) resolve to the LARGEST `rightTie`
  * value, in both directions. INPUT CONTRACT: `rightTie` must be
  * UNIQUE per (key, ts) — with duplicate (key, ts, tie) right rows
  * the winner's PAYLOAD is unspecified (the single-window `last` over
  * a tied sort and the sliced census's `max_by` each pick an
  * arbitrary duplicate, so the two forms — and repeated runs — may
  * carry different payload structs for the same match). Every caller
  * here passes a per-event unique id, and q56/q58's oracles dedup
  * the right side per (key, ts) for the same reason. The carried
  * right row rides one struct column, so all its fields come from the
  * SAME row even when a field is null. NULL join keys GROUP TOGETHER (window-partition semantics,
  * unlike a SQL join's never-match): both forms realize it — the
  * sliced form stitches on a non-null struct key whose field
  * comparison treats nulls as equal — and the property spec pins
  * their agreement on null-keyed rows.
  *
  * q56 runs this operator on purchases × clicks; the DuckDB oracles
  * pin its semantics against an independent native ASOF JOIN
  * implementation at four scale factors (q60 the tolerance cap, q61
  * the forward direction). `EventStreams.streamingAsof` is the
  * incremental face (watermark-bounded reorder buffer).
  *
  * @param left      probe side; all its columns survive
  * @param right     build side; its non-key, non-ts columns (plus the
  *                  matched right ts as `asof_ts`) come back inside a
  *                  nullable `asof` struct — null when no right row
  *                  qualifies
  * @param keys      equi-key columns present on both sides
  * @param tsCol     event-time column name present on both sides
  *                  (TimestampType or an INTEGRAL numeric — fractional
  *                  ts would not survive the unit quantization)
  * @param rightTie  right column breaking (key, ts) ties (largest wins)
  * @param direction "backward" | "forward"
  * @param tolerance max gap in ts units; farther matches null out
  */
object AsofJoin {

  /** Tagged-union prep shared by both forms: the normalized left and
    * right frames (base ++ __tag/__ord/__lrow/__rrow/__u) plus the
    * pieces needed to reassemble the output projection. `__u` is the
    * SIGNED traversal axis: time units for backward, negated for
    * forward — everything downstream orders by it and stays
    * direction-blind.
    */
  private case class Prep(
      l: DataFrame, r: DataFrame, base: Seq[String], leftPayload: Seq[String],
      sign: Int, tsType: DataType)

  private def unitsOf(c: Column, dt: DataType): Column = dt match {
    case TimestampType => unix_micros(c)
    case ByteType | ShortType | IntegerType | LongType => c.cast(LongType)
    case other => throw new IllegalArgumentException(
      s"as-of ts column must be TimestampType or integral, got $other")
  }

  private def prep(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      tsCol: String,
      rightTie: String,
      direction: String): Prep = {
    // asof_ts is reserved too: a right payload named asof_ts (easy
    // when chaining two as-of joins) would duplicate the carried
    // struct's field and make `asof.asof_ts` ambiguous downstream
    val reserved = Seq("asof", "asof_ts", "__tag", "__ord", "__lrow", "__rrow",
      "__slice", "__local", "__inherit", "__sliceLast", "__u", "__grp", "__grp2")
    require(!(left.columns ++ right.columns).exists(c =>
      reserved.contains(c) || c.startsWith("__inh_")),
      s"inputs may not carry the operator's reserved columns " +
        s"${reserved.mkString(", ")} or the __inh_ prefix")
    val sign = direction match {
      case "backward" => 1
      case "forward" => -1
      case other => throw new IllegalArgumentException(
        s"direction must be backward or forward, got $other")
    }
    val tsType = left.schema(tsCol).dataType
    require(tsType == right.schema(tsCol).dataType,
      s"ts column $tsCol differs in type between sides")
    val base = keys :+ tsCol
    val leftPayload = left.columns.filterNot(base.contains).toSeq
    val rightPayload = right.columns.filterNot(base.contains).toSeq
    val lrowCol = struct(leftPayload.map(col): _*)
    val rrowCol = struct(rightPayload.map(col) :+ col(tsCol).as("asof_ts"): _*)
    val lrowType = left.select(lrowCol.as("s")).schema("s").dataType
    val rrowType = right.select(rrowCol.as("s")).schema("s").dataType
    val ordType = right.schema(rightTie).dataType
    val u = unitsOf(col(tsCol), tsType) * lit(sign)

    val l = left.select(base.map(col) ++ Seq(
      u.as("__u"), lit(1).as("__tag"), lit(null).cast(ordType).as("__ord"),
      lrowCol.as("__lrow"), lit(null).cast(rrowType).as("__rrow")): _*)
    val r = right.select(base.map(col) ++ Seq(
      u.as("__u"), lit(0).as("__tag"), col(rightTie).as("__ord"),
      lit(null).cast(lrowType).as("__lrow"), rrowCol.as("__rrow")): _*)
    Prep(l, r, base, leftPayload, sign, tsType)
  }

  /** Tolerance cap + final projection. The gap on the signed axis is
    * always left − right ≥ 0 (the carry only ever looks back in
    * traversal order), so one formula serves both directions; a match
    * past the cap nulls the whole struct and the left row survives.
    */
  private def output(df: DataFrame, p: Prep, tolerance: Option[Long]): DataFrame = {
    val capped = tolerance match {
      case None => df
      case Some(tol) =>
        require(tol >= 0, s"tolerance must be >= 0, got $tol")
        df.withColumn("asof",
          when(unitsOf(col(p.base.last), p.tsType) * lit(p.sign) -
            unitsOf(col("asof").getField("asof_ts"), p.tsType) * lit(p.sign)
            <= tol, col("asof")))
    }
    capped.select(p.base.map(col) ++
      p.leftPayload.map(f => col("__lrow").getField(f).as(f)) :+
      col("asof"): _*)
  }

  /** Single-window merge-asof (see class doc). One shuffle on the key;
    * per-key history serializes through one task's sort — prefer
    * [[asofJoinSliced]] when any key's timeline can be huge. */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      tsCol: String,
      rightTie: String,
      direction: String = "backward",
      tolerance: Option[Long] = None): DataFrame = {
    val p = prep(left, right, keys, tsCol, rightTie, direction)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__u").asc, col("__tag").asc, col("__ord").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    output(
      p.l.unionByName(p.r)
        .withColumn("asof", last(col("__rrow"), ignoreNulls = true).over(w))
        .filter(col("__tag") === 1),
      p, tolerance)
  }

  /** Sentinel: derive the slice width from the data (see [[asofJoinSliced]]). */
  val DerivedWidth: Long = 0L

  /** Skew-safe two-phase merge-asof; row-identical to [[asofJoin]]
    * (AsofJoinPropertySpec pins the equivalence on adversarial and
    * deliberately hot-keyed inputs, in both directions).
    *
    * Phase 1: the same carry-forward window partitioned by
    * (keys, slice) where `slice = __u div sliceWidth` on the signed
    * traversal axis — truncated integer division, monotone
    * non-decreasing in traversal order, so rows with equal ts always
    * share a slice and cross-slice order is global traversal order.
    * Phase 2: one partial-aggregate census over the same union picks
    * each (key, slice)'s last-traversed right row (`max_by` on
    * (__u, tie), exactly the window's tie order); a second window over
    * that keys × slices frame — tiny, and the ONLY place a key's
    * slices meet — carries the latest earlier-slice right row into
    * each slice (`rowsBetween(unboundedPreceding, -1)`: strictly
    * earlier slices, whose rows all precede strictly in traversal
    * order). The final carry is `coalesce(local, inherited)` via a
    * join on the non-null (keys, slice) struct — AQE broadcasts it
    * while the frame is small; past broadcast size (10^8 keys ×
    * hundreds of slices at 100 TB) it degrades to ONE shuffled join
    * of the tiny side only, because the join key is the corpus side's
    * existing window partitioning (see the stitch comment in the
    * body).
    *
    * @param sliceWidth slice width in the ts column's units — µs for
    *                   TimestampType, raw units for integral ts. Pure
    *                   parallelism knob: the widest task becomes one
    *                   key's busiest slice. [[DerivedWidth]] (the
    *                   default, 0) derives span / defaultParallelism
    *                   from a two-scalar min/max census over both
    *                   sides (the q58 grid-bounds pattern) — one
    *                   column-pruned eager min/max action per call,
    *                   paid before the join is planned — so a hot key's
    *                   timeline spreads across ~one task per core at
    *                   ANY data span without the caller guessing;
    *                   SCALE.md's skew-probe readings (r14, r16) put
    *                   the derived width within noise of the best
    *                   hand-picked width on both skew regimes. Pass
    *                   an explicit width ≈ (expected span) /
    *                   (desired per-key parallelism) to override.
    */
  def asofJoinSliced(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      tsCol: String,
      rightTie: String,
      sliceWidth: Long = DerivedWidth,
      direction: String = "backward",
      tolerance: Option[Long] = None): DataFrame = {
    require(sliceWidth >= 0,
      s"sliceWidth must be positive (or DerivedWidth = 0 to derive), got $sliceWidth")
    val p = prep(left, right, keys, tsCol, rightTie, direction)
    val width =
      if (sliceWidth > 0) sliceWidth
      else {
        // span / parallelism: ~one slice per core, so one hot key's
        // history spreads across the whole cluster stage. Min/max of
        // the signed axis over BOTH sides (a column-pruned scan);
        // empty inputs fall back to one slice.
        val r = p.l.select(col("__u")).unionByName(p.r.select(col("__u")))
          .agg(min(col("__u")), max(col("__u"))).head()
        if (r.isNullAt(0)) 1L
        else math.max(1L,
          (r.getLong(1) - r.getLong(0) + 1) / left.sparkSession.sparkContext.defaultParallelism)
      }
    // `div` = integral division (truncated; monotone either way, which
    // is all slicing needs) — double `/` would round at µs magnitudes.
    // `__grp` is the NON-NULLABLE struct (keys, slice) — the window
    // partition key AND the stitch join key, one expression (see the
    // stitch comment below for why that identity is load-bearing).
    val unioned = p.l.unionByName(p.r)
      .withColumn("__slice", expr(s"__u div ${width}L"))
      .withColumn("__grp", struct((keys :+ "__slice").map(col): _*))

    val w1 = Window.partitionBy(col("__grp"))
      .orderBy(col("__u").asc, col("__tag").asc, col("__ord").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = unioned
      .withColumn("__local", last(col("__rrow"), ignoreNulls = true).over(w1))
      .filter(col("__tag") === 1)
      .drop("__tag", "__ord", "__rrow")

    // Census over the union (not just the right side) so every
    // (key, slice) a left row occupies appears — a right-empty slice
    // must still receive its inherited carry. max_by ignores rows
    // whose ordering key is null, so left rows never win.
    val bounds = unioned.groupBy(col("__grp"))
      .agg(max_by(col("__rrow"),
        when(col("__tag") === 0, struct(col("__u"), col("__ord"))))
        .as("__sliceLast"))
    val w2 = Window.partitionBy(keys.map(k => col("__grp").getField(k)): _*)
      .orderBy(col("__grp").getField("__slice").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    // The stitch joins on plain equality of `__grp`, and that ONE
    // expression being both the carry window's partition key and the
    // join key is load-bearing three ways:
    //  (1) semantics — struct comparison treats null FIELDS as equal
    //      (ordering semantics), so null join keys group together in
    //      the stitch exactly as they do in the carry windows (a null
    //      key is one window partition); a plain multi-column equi-join
    //      would silently drop precisely the null-key rows'
    //      cross-slice inheritance;
    //  (2) the build-side plan — `__grp` is non-nullable (a struct
    //      literal over its rows), so the LeftOuter join's inferred
    //      isnotnull() on the build side folds away instead of pushing
    //      into the census subtree, which keeps that subtree
    //      canonically equal to the window branch and exchange reuse
    //      alive (measured on q59: a pushed isnotnull alone blocked
    //      the sessionize exchange's reuse — the r14 lesson that
    //      motivated the old `<=>` stitch);
    //  (3) the probe-side plan at scale — when the keys × slices frame
    //      outgrows broadcast (10^8 keys at 100 TB) and the stitch
    //      degrades to a shuffled join, the join's required
    //      distribution hash(__grp) IS `local`'s existing window
    //      partitioning, so the corpus side reuses it and pays ZERO
    //      extra exchange — only the tiny side shuffles. The old
    //      null-safe (`<=>`) keys planned as (coalesce(k), isnull(k))
    //      expressions, which defeated that reuse and re-shuffled the
    //      whole corpus exactly when the data was biggest (measured:
    //      10 executed exchanges vs 6; PlanShapeSpec pins both
    //      regimes).
    val inherited = bounds
      .withColumn("__inherit", last(col("__sliceLast"), ignoreNulls = true).over(w2))
      .select(col("__grp").as("__grp2"), col("__inherit"))

    output(
      local.join(inherited, col("__grp") === col("__grp2"), "left")
        .withColumn("asof", coalesce(col("__local"), col("__inherit"))),
      p, tolerance)
  }
}
