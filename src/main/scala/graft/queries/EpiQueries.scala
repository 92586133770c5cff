package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.{Fixpoint, Tables, Trajectory}
import Portable._

/** The reference's SIAR epidemic-model step (`1108Fit_para_multi.py`) —
  * its single largest artifact — re-expressed as a judged relational
  * pipeline over the engine's own mobility matrices.
  *
  * The reference alternates two operators over per-area compartment
  * vectors (S, I, A, R) for three age kinds (a/b/c = 0/1/2):
  *
  *  - the INFECTION step (`SIAR`, 1108Fit_para_multi.py:114-167):
  *    `EdS = -dt·susc·β·S·Σ_j m_kj·(I_j + α·A_j)/NUM_j` cross-kind
  *    mixing through a 3×3 contact matrix, split I/A by ratio r, plus
  *    `dt·γ` recoveries — per-area arithmetic, no joins at all;
  *  - the MOVE step (`Move`/`Move5`, :170-219): redistribute each
  *    compartment through the hourly mobility fraction matrix D (the
  *    g10b product, `D·X` per compartment) — a bounded matrix-vector
  *    product keyed by (src → dst).
  *
  * This is the deterministic MEAN-FIELD (expectation) form: the
  * reference's Poisson draws (`np.random.poisson`, :142-145) and
  * multinomial moves (`MultiNom2`, :188-207) are replaced by their
  * expectations, which is exactly the `E[·]` the reference's own
  * comments give for each transfer. All arithmetic is fixed-point
  * BIGINT (counts ×10⁴; the g19 recipe) so chained infection
  * steps and move steps hash-match an unrolled-CTE DuckDB oracle.
  *
  * Both engines run THE SAME generated expression text — the stage
  * templates below are rendered twice, differing only in the integer-
  * division operator (`DIV` vs `//`; identical semantics here since
  * every operand is non-negative) — so the two sides cannot drift.
  *
  * Scale: after the seed aggregation every table is bounded by
  * (#areas × 3), and the move matrices by #areas² non-zeros — all
  * independent of raw corpus size (the g19 property). The infection
  * step is whole-stage-codegen per-row arithmetic; the move step joins
  * a broadcast matrix. Fixed-point bounds: with counts ≤ N users,
  * the largest intermediate is `load·10⁶ ≤ N·10¹⁰`, overflow-free to
  * N ≈ 9·10⁸ users; past that, drop the ×10⁴ state scale a decimal.
  *
  * CHAIN DISCIPLINE: every step of the chain is pinned through
  * `Fixpoint.pin` (bounded: the frames are #areas × 13 at any corpus
  * size) before the next consumes it; its doc gives the reasons.
  * `siarChainEx`, `siarChainFinal` and `stochChain` are the only chain
  * builders, so no query can reintroduce the unbarriered shape;
  * `Round6OpsSpec` pins the optimized-plan size.
  */
object EpiQueries {
  type Q = (SparkSession, String) => DataFrame

  private val Kinds = 0 to 2
  private val Comps = Seq("s", "i", "a", "r")
  /** Wide state columns: s0,i0,a0,r0,s1,…,r2 (kind-major). */
  private val stateCols: Seq[String] = Kinds.flatMap(k => Comps.map(c => s"$c$k"))

  /** Fixed-point model constants (mirroring 1108Fit_para_multi.py's
    * parameter block): susceptibility per kind 0.34/1.00/1.47
    * (`Year_structure`, :17-22), β=0.3/day, γ=0.2/day, α=0.55, r=0.15,
    * dt=1 h=1/24 day. Coef(k) = dt·β·susc_k ×10⁶ (exact: dt·β=0.0125);
    * GdMicro = dt·γ ×10⁶. */
  private val Coef = coefOf(12500L)
  private val GdMicro = 8333L
  /** Coefficients for an arbitrary transmission rate: `base` is
    * dt·β ×10⁶; bases that are multiples of 100 make every per-kind
    * product exact (susc ×100 = 34/100/147). β itself = base·24/10⁶. */
  private def coefOf(base: Long): Seq[Long] =
    Seq(base * 34L / 100L, base, base * 147L / 100L)
  /** 3×3 contact matrix ×10³ (`RMij`, :48-69 builds it from POLYMOD
    * survey CSVs that are not part of the testdata; these are fixed
    * representative values with the same structure — strong in-group
    * contact, adult-dominated mixing). */
  private val M = Seq(Seq(7884L, 3851L, 601L),
                      Seq(2845L, 9700L, 1103L),
                      Seq(1520L, 4294L, 3114L))

  private[graft] def sparkDiv(a: String, b: String) = s"(($a) DIV ($b))"
  private def duckDiv(a: String, b: String) = s"(($a) // ($b))"

  /** Seed aggregation (`Info2SIAR`, :72-110): status counts per
    * (area, kind), ×`unit` fixed point (10⁴ for the mean-field chains;
    * 1 — whole persons — for the stochastic replica g29, which draws
    * integer individuals the way the reference does). Input rows carry
    * (area, kind, hs) where hs ∈ [0,100) is the user's deterministic
    * status draw: hs<4 → I, hs<10 → A, else S; R starts empty —
    * patient-zero seeding (`patient_zero`, :35-45) made deterministic. */
  private def seedAggExprs(unit: Long): Seq[String] =
    Kinds.flatMap { k => Seq(
      s"CAST(sum(CASE WHEN kind = $k AND hs >= 10 THEN $unit ELSE 0 END) AS BIGINT) AS s$k",
      s"CAST(sum(CASE WHEN kind = $k AND hs < 4 THEN $unit ELSE 0 END) AS BIGINT) AS i$k",
      s"CAST(sum(CASE WHEN kind = $k AND hs >= 4 AND hs < 10 THEN $unit ELSE 0 END) AS BIGINT) AS a$k",
      s"CAST(sum(0) AS BIGINT) AS r$k")
    }

  /** The infection step as four narrow projection stages (each output
    * quantity is computed once, then referenced by name — inlining the
    * whole dataflow into one expression would repeat the mixing sum
    * nine times). Per kind k:
    *   fl_k  = (I_k + α·A_k)·10⁶ / NUM_k       (force of infection)
    *   nf_k  = min(S_k·Coef_k/10⁶ · Σ_j m_kj·fl_j /10⁹, S_k)  (E[new infections],
    *           clamped by S — the reference's probplace branch, :151-157)
    *   ti_k  = r·nf_k  (S→I), nf_k−ti_k (S→A)
    *   ri/ra = min(dt·γ·I_k, I_k) / min(dt·γ·A_k, A_k)  (recoveries,
    *           the reference's np.minimum clamp, :146-147)
    * Negative-clamps (`EdS2I[EdS2I<0]=0`, :135-140) are structural here:
    * every operand is non-negative by construction. */
  private def infectStages(div: (String, String) => String,
                           coef: Seq[Long],
                           gd: String = GdMicro.toString): Seq[Seq[String]] =
    infectStagesEx(div, k => coef(k).toString, Nil, gd)

  /** `coefExpr` may be a literal (the fixed-β chains) or a COLUMN name
    * (g28's fused sweep, where the transmission coefficients ride the
    * rows and one chain serves every β at once); `gdExpr` is the
    * recovery coefficient dt·γ ×10⁶ — a literal for the fixed-γ chains,
    * a column name for g28b's 2-D grid; `extras` are sweep-key columns
    * carried through every stage. */
  private def infectStagesEx(div: (String, String) => String,
                             coefExpr: Int => String,
                             extras: Seq[String],
                             gdExpr: String): Seq[Seq[String]] = {
    val pass = extras ++ ("area" +: stateCols)
    val stage1 = pass ++ Kinds.map { k =>
      val num = s"(s$k + i$k + a$k + r$k)"
      val load = s"(i$k + ${div(s"55 * a$k", "100")})"
      s"CASE WHEN $num > 0 THEN ${div(s"$load * 1000000", num)} ELSE 0 END AS fl$k"
    }
    val stage2 = pass ++ Kinds.map { k =>
      val mix = div(Kinds.map(j => s"${M(k)(j)} * fl$j").mkString(" + "), "1000")
      s"least(${div(s"${div(s"s$k * ${coefExpr(k)}", "1000000")} * $mix", "1000000")}, s$k) AS nf$k"
    }
    val stage3 = pass ++ Kinds.flatMap { k => Seq(
      s"nf$k",
      s"${div(s"nf$k * 15", "100")} AS ti$k",
      s"least(${div(s"i$k * $gdExpr", "1000000")}, i$k) AS ri$k",
      s"least(${div(s"a$k * $gdExpr", "1000000")}, a$k) AS ra$k")
    }
    val stage4 = (extras :+ "area") ++ Kinds.flatMap { k => Seq(
      s"s$k - nf$k AS s$k",
      s"i$k + ti$k - ri$k AS i$k",
      s"a$k + (nf$k - ti$k) - ra$k AS a$k",
      s"r$k + ri$k + ra$k AS r$k")
    }
    Seq(stage1, stage2, stage3, stage4)
  }

  /** Move-step aggregation exprs (expectation of `Move5`): each state
    * column redistributes as Σ_src (X_src·cnt)/tot grouped by dst; an
    * area with no matrix row keeps its mass (the `MultiNom2` no-
    * destination branch, :203-204 — LEFT JOIN + coalesce(dst, area)). */
  private def moveExprs(div: (String, String) => String): Seq[String] =
    stateCols.map { c =>
      s"CAST(sum(${div(s"p.$c * coalesce(m.cnt, 1)", "coalesce(m.tot, 1)")}) AS BIGINT) AS $c"
    }

  // ─────────────── stochastic replica machinery (g29) ───────────────
  //
  // The reference's simulation is STOCHASTIC: integer Poisson draws per
  // transfer (1108Fit_para_multi.py:142-145) and multinomial moves
  // (:188-207), averaged over `Xunhuan` = 2 replicas (:349-358). The
  // judgeable counterpart replaces each draw with COUNTER-BASED
  // STOCHASTIC ROUNDING: a transfer with expectation e (fixed-point
  // ×10⁴) realizes as ⌊e/10⁴⌋ + [u < e mod 10⁴], where u ∈ [0,10⁴) is a
  // keyed hash — `portableHash('g29|' rep|step|draw|area)` — so every
  // draw is (a) an integer with EXACTLY the reference expectation at the
  // 10⁻⁴ grain (Round7OpsSpec pins Σ_u draw(e,u) = e), (b) independent
  // across (replica, step, transfer-kind, area) by md5 mixing, and
  // (c) bit-identical in Spark and DuckDB (the portableHash pair). The
  // same scheme replaces the multinomial move: each (src→dst, comp)
  // flow rounds stochastically around its expected share — expectation
  // matches `MultiNom2` exactly; only the (unobservable) joint
  // distribution differs, and the infection step conserves S+I+A+R per
  // (area, kind) exactly, as the reference's does.
  //
  // State is WHOLE PERSONS (unit = 1), as in the reference. Bounds: the
  // largest intermediate is s·coef·mix ≤ s·5.8·10¹¹ — overflow-free to
  // ~1.5·10⁷ persons per (area, kind); past that, pre-divide mix by 100
  // (costs nothing: mix carries 6 fractional digits of a rate ≤ 50).

  /** u ∈ [0, 10⁴) from a varchar key expression, rendered per engine —
    * the portableHash / portableHashSql pair with a modulus. */
  private def sparkRng(key: String): String =
    s"pmod(CAST(conv(substring(md5(CAST($key AS BINARY)), 1, 15), 16, 10) AS BIGINT), 10000)"
  private def duckRng(key: String): String =
    s"(CAST('0x' || substring(md5($key), 1, 15) AS BIGINT) % 10000)"

  /** The stochastic-rounding draw itself, shared by the infection draws
    * and the move flows: expectation `e` (×10⁴ fixed point) realizes as
    * ⌊e/10⁴⌋ + [u < e mod 10⁴] for a residue u ∈ [0,10⁴). Summed over
    * ALL 10⁴ residues the draws total exactly e — `Round7OpsSpec` pins
    * that exact unbiasedness — so E[draw] = e/10⁴ under the uniform
    * keyed hash. */
  private[graft] def drawExpr(div: (String, String) => String,
                              e: String, u: String): String =
    s"(${div(e, "10000")} + CASE WHEN $u < ($e) % 10000 THEN 1 ELSE 0 END)"

  /** The stochastic infection step as seven narrow projection stages
    * (same step semantics as [[infectStagesEx]], drawn instead of
    * averaged; the CASE/least clamps mirror the reference's probplace
    * and np.minimum branches, :146-157, with the I-draw clamped first). */
  private def stochInfectStages(div: (String, String) => String,
                                rng: String => String,
                                st: Int): Seq[Seq[String]] = {
    def key(tag: String) =
      s"concat('g29|', CAST(rep AS STRING), '|$st|$tag|', area)"
    def draw(e: String, tag: String) = drawExpr(div, e, rng(key(tag)))
    val base = Seq("rep", "area") ++ stateCols
    val s1 = base ++ Kinds.map { k =>
      val num = s"(s$k + i$k + a$k + r$k)"
      s"CASE WHEN $num > 0 THEN ${div(s"(i$k * 10000 + a$k * 5500) * 100", num)} ELSE 0 END AS fl$k"
    }
    val s2 = base ++ Kinds.map { k =>
      val mix = div(Kinds.map(j => s"${M(k)(j)} * fl$j").mkString(" + "), "1000")
      s"least(${div(s"s$k * ${Coef(k)} * $mix", "100000000")}, s$k * 10000) AS e4$k"
    }
    val s3 = base ++ Kinds.flatMap { k => Seq(
      s"${div(s"e4$k * 15", "100")} AS ei$k",
      s"e4$k - ${div(s"e4$k * 15", "100")} AS ea$k",
      s"${div(s"i$k * $GdMicro", "100")} AS eri$k",
      s"${div(s"a$k * $GdMicro", "100")} AS era$k")
    }
    val s4 = base ++ Kinds.flatMap { k => Seq(
      s"${draw(s"ei$k", s"i$k")} AS di$k",
      s"${draw(s"ea$k", s"a$k")} AS da$k",
      s"least(${draw(s"eri$k", s"ri$k")}, i$k) AS ri$k",
      s"least(${draw(s"era$k", s"ra$k")}, a$k) AS ra$k")
    }
    val s5 = (base ++ Kinds.flatMap(k => Seq(s"da$k", s"ri$k", s"ra$k"))) ++
      Kinds.map(k => s"least(di$k, s$k) AS ci$k")
    val s6 = (base ++ Kinds.flatMap(k => Seq(s"ri$k", s"ra$k", s"ci$k"))) ++
      Kinds.map(k => s"least(da$k, s$k - ci$k) AS ca$k")
    val s7 = Seq("rep", "area") ++ Kinds.flatMap { k => Seq(
      s"s$k - ci$k - ca$k AS s$k",
      s"i$k + ci$k - ri$k AS i$k",
      s"a$k + ca$k - ra$k AS a$k",
      s"r$k + ri$k + ra$k AS r$k")
    }
    Seq(s1, s2, s3, s4, s5, s6, s7)
  }

  /** Stochastic move: each (src→dst, comp) flow rounds stochastically
    * around its expected share (X·cnt/tot ×10⁴). The keep-mass branch
    * (no matrix row: cnt=tot=1) has zero fractional part, so it moves
    * exactly X — no draw fires. Bound: X·cnt·10⁴ per flow. */
  private def stochMoveExprs(div: (String, String) => String,
                             rng: String => String,
                             st: Int): Seq[String] =
    stateCols.map { c =>
      val m4 = div(s"p.$c * coalesce(m.cnt, 1) * 10000", "coalesce(m.tot, 1)")
      val key = s"concat('g29m|', CAST(p.rep AS STRING), '|$st|$c|', p.area, '|', coalesce(m.dst, p.area))"
      s"CAST(sum(${drawExpr(div, m4, rng(key))}) AS BIGINT) AS $c"
    }

  // ───────────────────────── Spark side ─────────────────────────

  private def seedWideFrom(st: DataFrame, unit: Long): DataFrame = {
    val first = st.groupBy(col("user_id"))
      .agg(min_by(col("region"), col("hour")).as("area"))
      .select(col("area"),
        pmod(portableHash(concat(lit("k"), col("user_id").cast("string"))), lit(3))
          .cast("int").as("kind"),
        pmod(portableHash(col("user_id").cast("string")), lit(100)).as("hs"))
    val aggs = seedAggExprs(unit).map(expr)
    first.groupBy(col("area")).agg(aggs.head, aggs.tail: _*)
  }

  /** The shared pipeline inputs: seed state + the `nMats` busiest hourly
    * move matrices (chosen in-plan; `mat(1)` is the chronologically
    * earliest of them — the reference cycles D hour-by-hour through its
    * 168-matrix week, :246-257). One persisted hourly-state pass feeds
    * BOTH the seed and the transition matrices (the g10b sharing
    * pattern); od persists because it feeds the hour ranking AND every
    * matrix. */
  private[graft] def siarInputs(s: SparkSession, dir: String,
                                nMats: Int = 2,
                                unit: Long = 10000L): (DataFrame, Int => DataFrame) = {
    val st = Trajectory.hourlyState(Tables.events(s, dir)).persist()
    val od = Trajectory.transitions(st)
      .select(col("hour"), col("src"),
        when(col("dst") === "0", col("src")).otherwise(col("dst")).as("dst"))
      .groupBy(col("hour"), col("src"), col("dst"))
      .agg(count(lit(1)).as("cnt"))
      .persist()
    val hot = od.groupBy(col("hour")).agg(sum(col("cnt")).as("n"))
      .withColumn("rk", row_number().over(Window.orderBy(col("n").desc, col("hour"))))
      .where(col("rk") <= nMats).select(col("hour"))
      .withColumn("ord", row_number().over(Window.orderBy(col("hour"))))
    // the two single-partition windows above rank #distinct-hours rows
    // (≈ 750/month) — bounded, never corpus-sized. ALL nMats matrices
    // materialize in ONE pass (the g10b sharing pattern: one join + one
    // (ord, src)-partitioned window instead of nMats separate
    // shuffle+window jobs — at 6+ matrices the per-broadcast build jobs
    // were the chain's dominant fixed cost), then each broadcast slices
    // the cached frame.
    val matAll = od
      .join(broadcast(hot), "hour")
      .select(col("ord"), col("src"), col("dst"), col("cnt"))
      .withColumn("tot",
        sum(col("cnt")).over(Window.partitionBy(col("ord"), col("src"))))
      .persist()
    def mat(o: Int): DataFrame =
      matAll.where(col("ord") === o).select(col("src"), col("dst"), col("cnt"), col("tot"))
    (seedWideFrom(st, unit), mat)
  }

  /** One move step through a (src, dst, cnt, tot) matrix. The matrix is
    * #areas²-bounded — broadcastable at any corpus size. `extras` are
    * sweep-key columns that become additional group keys (constant per
    * sweep row, so groups are unchanged within a sweep member). */
  private[graft] def moveStep(state: DataFrame, mat: DataFrame,
                              extras: Seq[String] = Nil): DataFrame = {
    val aggs = moveExprs(sparkDiv).map(expr)
    val keys = extras.map(e => expr(s"p.$e").as(e)) :+
      expr("coalesce(m.dst, p.area)").as("area")
    state.alias("p")
      .join(broadcast(mat.alias("m")), expr("p.area = m.src"), "left")
      .groupBy(keys: _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** The full interleaved chain — `mats.size + 1` infection steps with a
    * move through `mats(i)` between consecutive ones. Every inter-step
    * frame is pinned (see CHAIN DISCIPLINE above), which also serves the
    * per-step NI aggregate (g23/g28) from the same materialized blocks.
    * Returns (per-step transfer frames, post-move states, final state). */
  private[graft] def siarChain(s0: DataFrame, mats: Seq[DataFrame],
                               coef: Seq[Long] = Coef)
      : (Seq[DataFrame], Seq[DataFrame], DataFrame) =
    siarChainEx(s0, mats, k => coef(k).toString, Nil)

  /** The column-coefficient / sweep-key form — see [[infectStagesEx]]. */
  private[graft] def siarChainEx(s0: DataFrame, mats: Seq[DataFrame],
                                 coefExpr: Int => String,
                                 extras: Seq[String],
                                 gdExpr: String = GdMicro.toString)
      : (Seq[DataFrame], Seq[DataFrame], DataFrame) = {
    val stages = infectStagesEx(sparkDiv, coefExpr, extras, gdExpr)
    def infectPre(st: DataFrame): DataFrame =
      stages.take(3).foldLeft(st)((d, sg) => d.selectExpr(sg: _*))
    val transfers = Seq.newBuilder[DataFrame]
    val moved = Seq.newBuilder[DataFrame]
    var state = s0
    mats.foreach { m =>
      val t = Fixpoint.pin(infectPre(state), bounded = true)
      transfers += t
      state = Fixpoint.pin(moveStep(t.selectExpr(stages(3): _*), m, extras), bounded = true)
      moved += state
    }
    val tLast = Fixpoint.pin(infectPre(state), bounded = true)
    transfers += tLast
    (transfers.result(), moved.result(), tLast.selectExpr(stages(3): _*))
  }

  /** Final-state-only chain: one pin per STEP (infect+move
    * fused into a single barrier span) instead of [[siarChainEx]]'s two.
    * Correct only when the caller consumes nothing but the final state —
    * the per-step transfer frames are never materialized (g22/g22b;
    * g23/g28/g28b aggregate the transfers and must keep the split pins).
    * This was tried and reverted earlier in r17 when every fused step
    * recompiled its generated code (seconds per step); with the codegen
    * cache sized past the catalog's working set the steps share ONE
    * compiled class and the fusion is a job-count win at SHALLOW depth
    * (g22: 5 pins → 3, ~0.45 s in both A/B windows; g29's stochastic
    * twin fuses the same way). At depth 6 the fusion measured 0.3-0.6 s
    * SLOWER in two windows — the per-step planning of the larger fused
    * span outgrows the saved jobs — so g22b keeps the split pins. */
  private[graft] def siarChainFinal(s0: DataFrame, mats: Seq[DataFrame],
                                    coef: Seq[Long] = Coef): DataFrame = {
    val stages = infectStages(sparkDiv, coef)
    def infect(st: DataFrame): DataFrame =
      stages.foldLeft(st)((d, sg) => d.selectExpr(sg: _*))
    var state = s0
    mats.foreach { m =>
      state = Fixpoint.pin(moveStep(infect(state), m), bounded = true)
    }
    infect(state)
  }

  /** Replicate a person-unit seed state across `reps` replica rows —
    * the g28 sweep-as-data pattern: replicas are rows riding a `rep`
    * column through one shared chain, never separate jobs. */
  private[graft] def replicateSeed(s0: DataFrame, reps: Int): DataFrame =
    s0.select(
      explode(array((0 until reps).map(r => lit(r.toLong)): _*)).as("rep") +:
        (col("area") +: stateCols.map(col)): _*)

  /** The stochastic chain (g29): same interleave as [[siarChainEx]],
    * every transfer drawn by the counter-based RNG. `s0rep` must carry
    * (rep, area, s0..r2) in whole persons. Returns the final wide state
    * per replica. Same CHAIN DISCIPLINE: one pin per step. */
  private[graft] def stochChain(s0rep: DataFrame,
                                mats: Seq[DataFrame]): DataFrame = {
    def infect(st: DataFrame, step: Int): DataFrame =
      stochInfectStages(sparkDiv, sparkRng, step)
        .foldLeft(st)((d, sg) => d.selectExpr(sg: _*))
    var state = s0rep
    var step = 1
    // one pin per STEP (infect+move fused in a single barrier span) —
    // the siarChainFinal job-count discipline; the infect projections
    // survive as operators under the join (CollapseProject keeps the
    // md5-draw expressions single-evaluation), and all steps share one
    // cached generated class
    mats.foreach { m =>
      val aggs = stochMoveExprs(sparkDiv, sparkRng, step).map(expr)
      state = Fixpoint.pin(infect(state, step).alias("p")
        .join(broadcast(m.alias("m")), expr("p.area = m.src"), "left")
        .groupBy(expr("p.rep").as("rep"), expr("coalesce(m.dst, p.area)").as("area"))
        .agg(aggs.head, aggs.tail: _*), bounded = true)
      step += 1
    }
    infect(state, step)
  }

  /** Final-state presentation shared by g22/g22b: wide (area, s0..r2) →
    * long (area, kind, s, i, a, r). */
  private def explodeFinal(fin: DataFrame): DataFrame = {
    val kindStructs = Kinds.map { k =>
      struct(lit(k).cast("long").as("kind") +:
        Comps.map(c => col(s"$c$k").as(c)): _*)
    }
    fin.select(col("area"), explode(array(kindStructs: _*)).as("e"))
      .select(col("area") +: ("kind" +: Comps).map(c => col(s"e.$c").as(c)): _*)
      .orderBy(col("area"), col("kind"))
  }

  // ───────────────────────── DuckDB side ─────────────────────────

  private def infectSqlCtes(prefix: String, prev: String,
                            coef: Seq[Long],
                            gd: String): (String, String) = {
    val names = Seq("a", "b", "c", "d").map(x => s"$prefix$x")
    val ctes = infectStages(duckDiv, coef, gd).zip(names).zip(prev +: names)
      .map { case ((exprs, nm), from) =>
        s"$nm AS MATERIALIZED (SELECT ${exprs.mkString(", ")} FROM $from)"
      }
    (ctes.mkString(",\n"), names.last)
  }

  private def moveSqlCte(name: String, prev: String, mat: String): String =
    s"""$name AS MATERIALIZED (
       |  SELECT coalesce(m.dst, p.area) AS area, ${moveExprs(duckDiv).mkString(", ")}
       |  FROM $prev p LEFT JOIN $mat m ON p.area = m.src
       |  GROUP BY 1)""".stripMargin

  /** Shared oracle prelude: trajectory → OD matrices for the `nMats`
    * busiest hours (mat1..matN, chronological) → seeded wide state w0. */
  private def siarPreludeCtes(nMats: Int, unit: Long = 10000L): String = {
    val mats = (1 to nMats).map { o =>
      s"""mat$o AS MATERIALIZED (
         |  SELECT src, dst, cnt, sum(cnt) OVER (PARTITION BY src) AS tot
         |  FROM od JOIN hot ON od.hour = hot.hour AND hot.ord = $o)""".stripMargin
    }
    s"""${Trajectory.trajSqlPrelude},
       |seq AS MATERIALIZED (
       |  SELECT user_id, hour, region,
       |         lag(region) OVER (PARTITION BY user_id ORDER BY hour) AS src
       |  FROM traj),
       |od AS MATERIALIZED (
       |  SELECT hour, src, CASE WHEN region = '0' THEN src ELSE region END AS dst,
       |         CAST(count(*) AS BIGINT) AS cnt
       |  FROM seq WHERE src IS NOT NULL GROUP BY 1, 2, 3),
       |hot AS MATERIALIZED (
       |  SELECT hour, row_number() OVER (ORDER BY hour) AS ord FROM (
       |    SELECT hour FROM (SELECT hour, sum(cnt) AS n FROM od GROUP BY 1)
       |    QUALIFY row_number() OVER (ORDER BY n DESC, hour) <= $nMats)),
       |${mats.mkString(",\n")},
       |sd AS MATERIALIZED (
       |  SELECT arg_min(region, hour) AS area,
       |         CAST(${portableHashSql("'k' || CAST(user_id AS VARCHAR)")} % 3 AS INT) AS kind,
       |         ${portableHashSql("CAST(user_id AS VARCHAR)")} % 100 AS hs
       |  FROM st GROUP BY user_id),
       |w0 AS MATERIALIZED (SELECT area, ${seedAggExprs(unit).mkString(", ")} FROM sd GROUP BY 1)""".stripMargin
  }

  /** Unrolled CTEs for one full chain (`nMats`+1 infection steps,
    * `nMats` interleaved moves), CTE names prefixed by `tag` so several
    * β-variant chains can share one prelude. Returns (ctes, final CTE).
    * Step N's stage-3 CTE is `${tag}in${N}c` (carries nf/ti per kind —
    * the NI observable); post-move states are `${tag}mv$N`. */
  private def siarChainCtes(tag: String, nMats: Int, coef: Seq[Long],
                            seed: String = "w0",
                            matPrefix: String = "mat",
                            gd: String = GdMicro.toString): (String, String) = {
    val parts = Seq.newBuilder[String]
    var prev = seed
    (1 to nMats).foreach { step =>
      val (ctes, out) = infectSqlCtes(s"${tag}in$step", prev, coef, gd)
      parts += ctes
      parts += moveSqlCte(s"${tag}mv$step", out, s"$matPrefix$step")
      prev = s"${tag}mv$step"
    }
    val (ctes, out) = infectSqlCtes(s"${tag}in${nMats + 1}", prev, coef, gd)
    parts += ctes
    (parts.result().mkString(",\n"), out)
  }

  /** Final-state presentation SQL shared by g22/g22b. */
  private def finalSelectSql(from: String): String =
    s"""SELECT area, CAST(k AS BIGINT) AS kind,
       |       ${Comps.map(c => s"CASE k WHEN 0 THEN ${c}0 WHEN 1 THEN ${c}1 ELSE ${c}2 END AS $c").mkString(", ")}
       |FROM $from, (SELECT unnest(generate_series(0, 2)) AS k)
       |ORDER BY area, kind""".stripMargin

  /** Unrolled CTEs for the stochastic chain (g29) — the twin of
    * [[siarChainCtes]] rendered from the SAME stage templates. */
  private def stochChainCtes(nMats: Int, seed: String): (String, String) = {
    def infect(prefix: String, prev: String, st: Int): (String, String) = {
      val stages = stochInfectStages(duckDiv, duckRng, st)
      val names = stages.indices.map(i => s"$prefix${('a' + i).toChar}")
      val ctes = stages.zip(names).zip(prev +: names).map {
        case ((exprs, nm), from) =>
          s"$nm AS MATERIALIZED (SELECT ${exprs.mkString(", ")} FROM $from)"
      }
      (ctes.mkString(",\n"), names.last)
    }
    val parts = Seq.newBuilder[String]
    var prev = seed
    (1 to nMats).foreach { step =>
      val (ctes, out) = infect(s"g29in$step", prev, step)
      parts += ctes
      parts +=
        s"""g29mv$step AS MATERIALIZED (
           |  SELECT p.rep AS rep, coalesce(m.dst, p.area) AS area,
           |         ${stochMoveExprs(duckDiv, duckRng, step).mkString(", ")}
           |  FROM $out p LEFT JOIN mat$step m ON p.area = m.src
           |  GROUP BY 1, 2)""".stripMargin
      prev = s"g29mv$step"
    }
    val (ctes, out) = infect(s"g29in${nMats + 1}", prev, nMats + 1)
    parts += ctes
    (parts.result().mkString(",\n"), out)
  }

  /** β-fit grid (`dt·β ×10⁶` bases; multiples of 100 keep the per-kind
    * coefficients exact). The true simulation base 12500 (β=0.3/day) is
    * a grid member, so the fit must recover it. */
  private val BetaBases = Seq(6000L, 9000L, 12500L, 15000L, 18000L)

  /** The 2-D grid (g28b): the reference's harness iterates (β, γ) pairs
    * (`canshu`, 1108Fit_para_multi.py:323-331). `dt·γ ×10⁶` bases:
    * γ = 0.1 / 0.2 / 0.3 per day; the true pair (12500, 8333) is a grid
    * member and the fit must recover BOTH coordinates. */
  private val BetaBases2 = Seq(9000L, 12500L, 15000L)
  private val GdBases = Seq(4167L, 8333L, 12500L)

  val catalog: Seq[(String, Q, String)] = Seq(

    // ── g22: three infection steps interleaved with two move steps
    //    through the two busiest hourly mobility matrices (chosen
    //    in-plan, deterministically: top-2 hours by transition count,
    //    applied chronologically). Inter-step frames pinned — see
    //    CHAIN DISCIPLINE in the object doc. ──
    ("g22_siar_step",
      (s: SparkSession, dir: String) => {
        val (s0, mat) = siarInputs(s, dir)
        explodeFinal(siarChainFinal(s0, Seq(mat(1), mat(2))))
      },
      {
        val (chain, out) = siarChainCtes("", 2, Coef)
        s"""${siarPreludeCtes(2)},
           |$chain
           |${finalSelectSql(out)}""".stripMargin
      }),

    // ── g22b: the reference's REAL matrix schedule at depth — the
    //    chain cycled through the SIX busiest hourly matrices
    //    (1108Fit_para_multi.py:246-257 cycles D hour-by-hour through a
    //    168-matrix week; 6 interleaved matrices ≍ a quarter-day of the
    //    schedule), i.e. 7 infection + 6 move steps. This is the
    //    regression proof that the g22 persist fix holds as chain depth
    //    grows: without the barriers the optimizer cost is
    //    multiplicative in depth, with them it is linear (each step
    //    plans against a cached #areas×13 frame). ──
    ("g22b_siar_cycle",
      (s: SparkSession, dir: String) => {
        val (s0, mat) = siarInputs(s, dir, nMats = 6)
        // stays on the SPLIT-pin chain: fusing measured ~0.3-0.6 s SLOWER
        // at this depth in two A/B windows (the per-step planning of the
        // bigger fused span outgrows the 6 saved checkpoint jobs), while
        // the depth-2 g22 wins from the same fusion -- see siarChainFinal
        val (_, _, fin) = siarChain(s0, (1 to 6).map(mat))
        explodeFinal(fin)
      },
      {
        val (chain, out) = siarChainCtes("", 6, Coef)
        s"""${siarPreludeCtes(6)},
           |$chain
           |${finalSelectSql(out)}""".stripMargin
      }),

    // ── g23: the reference's `Result` observable series
    //    (1108Fit_para_multi.py:233-270) — per step, the global
    //    compartment totals recorded AFTER the move (resulta/b/c sums)
    //    and the new-infection count NI = Σ dS2I (:246-249; the final
    //    step has no move, mirroring the loop's k = step-1 exit). The
    //    entire series reduces to three 1-row aggregates over the
    //    area-bounded chain — the epidemic-curve artifact the paper
    //    fits β against, never materialized on the driver. ──
    ("g23_siar_series",
      (s: SparkSession, dir: String) => {
        val (s0, mat) = siarInputs(s, dir)
        val (ts, mv, fin) = siarChain(s0, Seq(mat(1), mat(2)))
        def stepRow(step: Int, state: DataFrame, transfers: DataFrame): DataFrame = {
          val tots = Comps.map(c => expr(
            s"CAST(${Kinds.map(k => s"sum($c$k)").mkString(" + ")} AS BIGINT) AS $c"))
          val ni = transfers.agg(expr(
            s"CAST(${Kinds.map(k => s"sum(ti$k)").mkString(" + ")} AS BIGINT) AS new_i"))
          state.agg(tots.head, tots.tail: _*)
            .crossJoin(ni)
            .select(lit(step).cast("long").as("step") +:
              ("new_i" +: Comps).map(col): _*)
        }
        stepRow(1, mv(0), ts(0))
          .unionByName(stepRow(2, mv(1), ts(1)))
          .unionByName(stepRow(3, fin, ts(2)))
          .orderBy(col("step"))
      },
      {
        def stepSql(step: Int, state: String, stage3: String) =
          s"""SELECT CAST($step AS BIGINT) AS step,
             |       (SELECT CAST(${Kinds.map(k => s"sum(ti$k)").mkString(" + ")} AS BIGINT) FROM $stage3) AS new_i,
             |       ${Comps.map(c => s"CAST(${Kinds.map(k => s"sum($c$k)").mkString(" + ")} AS BIGINT) AS $c").mkString(", ")}
             |FROM $state""".stripMargin
        val (chain, out) = siarChainCtes("", 2, Coef)
        s"""${siarPreludeCtes(2)},
           |$chain
           |${stepSql(1, "mv1", "in1c")}
           |UNION ALL
           |${stepSql(2, "mv2", "in2c")}
           |UNION ALL
           |${stepSql(3, out, "in3c")}
           |ORDER BY step""".stripMargin
      }),

    // ── g28: the β-FITTING SWEEP — the reference's actual end goal
    //    (`1108Fit_para_multi.py:320-400` runs the simulation over a β
    //    parameter grid under multiprocessing and scores RMSE of the
    //    simulated vs observed daily confirmed series, :351-352,385-386;
    //    the paper's headline figure is the fitted curve). Mean-field
    //    translation: run the g22 chain once per grid β (only the
    //    transmission coefficients vary — seed state and matrices are
    //    shared, persisted inputs), score Σ(sim−obs)² on the per-step
    //    NI series against a seeded "observed" series, flag the argmin.
    //
    //    The fit runs at DISTRICT granularity (the precision-1 geohash
    //    prefix of the region cell): the reference, too, scores against
    //    case counts REPORTED PER SHANGHAI DISTRICT, not per 150 m cell
    //    (`1108Fit_para_multi.py:320-340` loads the observed district
    //    series). It is also what makes the fit non-degenerate on the
    //    sparse testdata — at cell granularity most areas hold a single
    //    user, S and I never meet, and every β produces the same ~zero
    //    NI series; districts hold enough of both compartments that the
    //    NI series scales with β and the argmin is sharp. Seed state
    //    and matrices coarsen by exact BIGINT sums — no new semantics.
    //
    //    The observed series is the true-β (0.3/day) simulation plus a
    //    deterministic hash perturbation of ±50 fixed-point units
    //    (±0.005 person — small against the ~200-unit/step gap between
    //    adjacent grid βs at sf0.01, so the argmin stays sharp at the
    //    JUDGED sfs 0.01/0.1; at sf0.001 the corpus is sparse enough
    //    that every β yields the same ~zero NI series and the grid
    //    honestly ties — still hash-green, since both engines derive
    //    obs identically, but only at the judged SFs must the fit
    //    recover β=0.3 uniquely; Round6OpsSpec pins that at sf0.01).
    //
    //    Determinism & bounds: residuals are |sim−obs| DIV 100 before
    //    squaring (abs first — the two engines' integer divisions must
    //    only ever see non-negative operands), so sse stays in BIGINT
    //    to ~5·10⁹ users. 5 βs × 5 cached #districts×13 frames — the
    //    grid is embarrassingly parallel and corpus-size-independent
    //    past the one shared seed scan. ──
    ("g28_siar_beta_fit",
      (s: SparkSession, dir: String) => {
        val (s0raw, mat) = siarInputs(s, dir)
        val sAgg = stateCols.map(c => sum(col(c)).cast("long").as(c))
        val s0 = s0raw.groupBy(substring(col("area"), 1, 1).as("area"))
          .agg(sAgg.head, sAgg.tail: _*)
        def districtMat(o: Int): DataFrame = mat(o)
          .select(substring(col("src"), 1, 1).as("src"),
            substring(col("dst"), 1, 1).as("dst"), col("cnt"))
          .groupBy(col("src"), col("dst")).agg(sum(col("cnt")).as("cnt"))
          .withColumn("tot", sum(col("cnt")).over(Window.partitionBy(col("src"))))
        val mats = Seq(districtMat(1), districtMat(2))
        // PARAMETER SWEEP AS DATA PARALLELISM: β becomes a column, not a
        // loop — the seed state replicates once per grid member with its
        // transmission coefficients riding the rows, and ONE chain runs
        // every β simultaneously (5× the rows of one chain, the same
        // number of jobs as one chain). Adding candidates adds rows, not
        // stages — the form that survives a 1000-β sweep on a cluster.
        val betaRows = BetaBases.map { base =>
          val cf = coefOf(base)
          struct(lit(base * 24L).cast("long").as("beta_micro"),
            lit(cf(0)).as("cf0"), lit(cf(1)).as("cf1"), lit(cf(2)).as("cf2"))
        }
        val sweepCols = Seq("beta_micro", "cf0", "cf1", "cf2")
        val s0b = s0.select(
            (explode(array(betaRows: _*)).as("b") +:
              (col("area") +: stateCols.map(col))): _*)
          .select((sweepCols.map(c => col(s"b.$c")) ++
            (col("area") +: stateCols.map(col))): _*)
        val (ts, _, _) = siarChainEx(s0b, mats, k => s"cf$k", sweepCols)
        val sim = ts.zipWithIndex.map { case (t, i) =>
          t.groupBy(col("beta_micro"))
            .agg(expr(s"CAST(${Kinds.map(k => s"sum(ti$k)").mkString(" + ")} AS BIGINT) AS new_i"))
            .select(col("beta_micro"), lit(i + 1).cast("long").as("step"), col("new_i"))
        }.reduce(_ unionByName _)
        // the observed series = the true-β member of the SAME sweep
        val obs = sim.where(col("beta_micro") === lit(300000L))
          .select(col("step"),
            greatest(lit(0L), col("new_i") +
              pmod(portableHash(concat(lit("obs"), col("step").cast("string"))), lit(101)) -
              lit(50L)).as("obs_i"))
        sim.join(obs, "step")
          .select(col("beta_micro"),
            expr("abs(new_i - obs_i) DIV 100").as("d"))
          .groupBy(col("beta_micro"))
          .agg(sum(expr("d * d")).cast("long").as("sse"))
          // the grid is 5 rows — the unpartitioned min-window is fine
          .withColumn("is_best",
            when(col("sse") === min(col("sse")).over(Window.partitionBy(lit(1))), 1L)
              .otherwise(0L).cast("long"))
          .orderBy(col("beta_micro"))
      },
      {
        val districtCtes = {
          val mats = (1 to 2).map { o =>
            s"""matd$o AS MATERIALIZED (
               |  SELECT src, dst, cnt, sum(cnt) OVER (PARTITION BY src) AS tot
               |  FROM (SELECT substring(src, 1, 1) AS src, substring(dst, 1, 1) AS dst,
               |               CAST(sum(cnt) AS BIGINT) AS cnt
               |        FROM mat$o GROUP BY 1, 2))""".stripMargin
          }
          val w0d =
            s"""w0d AS MATERIALIZED (
               |  SELECT substring(area, 1, 1) AS area,
               |         ${stateCols.map(c => s"CAST(sum($c) AS BIGINT) AS $c").mkString(", ")}
               |  FROM w0 GROUP BY 1)""".stripMargin
          (w0d +: mats).mkString(",\n")
        }
        val chains = BetaBases.map { base =>
          siarChainCtes(s"b${base}_", 2, coefOf(base), seed = "w0d",
            matPrefix = "matd")._1
        }
        val serCtes = BetaBases.map { base =>
          val steps = (1 to 3).map { st =>
            s"""SELECT CAST($st AS BIGINT) AS step,
               |       (SELECT CAST(${Kinds.map(k => s"sum(ti$k)").mkString(" + ")} AS BIGINT)
               |        FROM b${base}_in${st}c) AS new_i""".stripMargin
          }
          s"b${base}_ser AS MATERIALIZED (${steps.mkString("\nUNION ALL\n")})"
        }
        val allSer = BetaBases.map { base =>
          s"SELECT CAST(${base * 24L} AS BIGINT) AS beta_micro, step, new_i FROM b${base}_ser"
        }.mkString("\nUNION ALL\n")
        s"""${siarPreludeCtes(2)},
           |$districtCtes,
           |${chains.mkString(",\n")},
           |${serCtes.mkString(",\n")},
           |obs AS MATERIALIZED (
           |  SELECT step, greatest(0, new_i +
           |           (${portableHashSql("'obs' || CAST(step AS VARCHAR)")} % 101) - 50) AS obs_i
           |  FROM b12500_ser),
           |allser AS MATERIALIZED ($allSer),
           |sc AS MATERIALIZED (
           |  SELECT beta_micro, CAST(sum(d * d) AS BIGINT) AS sse FROM (
           |    SELECT a.beta_micro, (abs(a.new_i - o.obs_i) // 100) AS d
           |    FROM allser a JOIN obs o USING (step))
           |  GROUP BY 1)
           |SELECT beta_micro, sse,
           |       CAST(CASE WHEN sse = (SELECT min(sse) FROM sc) THEN 1 ELSE 0 END AS BIGINT) AS is_best
           |FROM sc ORDER BY beta_micro""".stripMargin
      }),

    // ── g29: the STOCHASTIC replica — the reference's simulation as it
    //    actually runs (integer Poisson draws per transfer, multinomial
    //    moves, Xunhuan = 2 replicas averaged; 1108Fit_para_multi.py:
    //    142-145, 188-207, 349-358), judged end-to-end via the
    //    counter-based RNG (see the stochastic machinery note above):
    //    every draw is a keyed portableHash both engines compute
    //    identically, so the full random trajectory — not just its
    //    mean — hash-matches the oracle. Replicas are ROWS (the g28
    //    sweep-as-data pattern): one chain runs both replicas; the
    //    final state is the per-(area, kind) floor-mean over them.
    //    Round7OpsSpec pins (a) exact unbiasedness of the draw at the
    //    10⁻⁴ grain and (b) recovery of the mean-field g22 state as the
    //    replica count grows. ──
    ("g29_siar_stochastic",
      (s: SparkSession, dir: String) => {
        val (s0, mat) = siarInputs(s, dir, nMats = 2, unit = 1L)
        val fin = stochChain(replicateSeed(s0, 2), Seq(mat(1), mat(2)))
        val meanAggs = stateCols.map(c => expr(s"sum($c) DIV 2").as(c))
        explodeFinal(fin.groupBy(col("area")).agg(meanAggs.head, meanAggs.tail: _*))
      },
      {
        val (chain, out) = stochChainCtes(2, "r0")
        s"""${siarPreludeCtes(2, unit = 1L)},
           |r0 AS MATERIALIZED (
           |  SELECT CAST(rep AS BIGINT) AS rep, w0.*
           |  FROM w0, (SELECT unnest(generate_series(0, 1)) AS rep)),
           |$chain,
           |meanst AS MATERIALIZED (
           |  SELECT area, ${stateCols.map(c => s"CAST(sum($c) // 2 AS BIGINT) AS $c").mkString(", ")}
           |  FROM $out GROUP BY 1)
           |${finalSelectSql("meanst")}""".stripMargin
      }),

    // ── g28b: the 2-D (β, γ) GRID FIT — the reference's full harness
    //    shape (`canshu` iterates (β, γ) pairs per rate bucket,
    //    1108Fit_para_multi.py:323-331; g28 sweeps the β axis only).
    //    Both transmission (cf0..cf2) AND recovery (gdc) coefficients
    //    ride the rows through ONE shared chain — 9 grid members are 9×
    //    the rows of one chain, the same number of jobs. The score is a
    //    TWO-SERIES SSE: per step, the NI series (g28's observable,
    //    β-identifying) AND the post-step total-I prevalence series —
    //    the γ-identifying one: over a 3-step horizon γ moves NI only
    //    through second-order recovered-mass effects (measured: the γ
    //    axis TIES on NI alone at sf0.01), but prevalence loses
    //    dt·Δγ·I ≈ 250 fixed-point units per step FIRST-order, well
    //    clear of the ±50 obs perturbation. This mirrors the reference,
    //    whose fitted confirmed-cases curve depends on both arrival
    //    (β) and removal (γ). Residuals quantize at DIV 10 (gaps are
    //    ~10²; DIV 100 would flatten the γ axis; sse headroom: |d| ≤
    //    ~10⁷ at the 9·10⁸-user bound, 6 squared terms → ≤ 6·10¹⁴ —
    //    inside BIGINT). The judged argmin must recover BOTH true
    //    coordinates. ──
    ("g28b_siar_grid_fit",
      (s: SparkSession, dir: String) => {
        val (s0raw, mat) = siarInputs(s, dir)
        val sAgg = stateCols.map(c => sum(col(c)).cast("long").as(c))
        val s0 = s0raw.groupBy(substring(col("area"), 1, 1).as("area"))
          .agg(sAgg.head, sAgg.tail: _*)
        def districtMat(o: Int): DataFrame = mat(o)
          .select(substring(col("src"), 1, 1).as("src"),
            substring(col("dst"), 1, 1).as("dst"), col("cnt"))
          .groupBy(col("src"), col("dst")).agg(sum(col("cnt")).as("cnt"))
          .withColumn("tot", sum(col("cnt")).over(Window.partitionBy(col("src"))))
        val mats = Seq(districtMat(1), districtMat(2))
        val gridRows = for { base <- BetaBases2; gd <- GdBases } yield {
          val cf = coefOf(base)
          struct(lit(base * 24L).cast("long").as("beta_micro"),
            lit(gd * 24L).cast("long").as("gamma_micro"),
            lit(cf(0)).as("cf0"), lit(cf(1)).as("cf1"), lit(cf(2)).as("cf2"),
            lit(gd).as("gdc"))
        }
        val sweepCols = Seq("beta_micro", "gamma_micro", "cf0", "cf1", "cf2", "gdc")
        val s0b = s0.select(
            (explode(array(gridRows: _*)).as("b") +:
              (col("area") +: stateCols.map(col))): _*)
          .select((sweepCols.map(c => col(s"b.$c")) ++
            (col("area") +: stateCols.map(col))): _*)
        val (ts, mv, fin) = siarChainEx(s0b, mats, k => s"cf$k", sweepCols, gdExpr = "gdc")
        val states = mv :+ fin
        val sim = ts.zipWithIndex.map { case (t, i) =>
          val ni = t.groupBy(col("beta_micro"), col("gamma_micro"))
            .agg(expr(s"CAST(${Kinds.map(k => s"sum(ti$k)").mkString(" + ")} AS BIGINT) AS new_i"))
          val ti = states(i).groupBy(col("beta_micro"), col("gamma_micro"))
            .agg(expr(s"CAST(${Kinds.map(k => s"sum(i$k)").mkString(" + ")} AS BIGINT) AS tot_i"))
          ni.join(ti, Seq("beta_micro", "gamma_micro"))
            .select(col("beta_micro"), col("gamma_micro"),
              lit(i + 1).cast("long").as("step"), col("new_i"), col("tot_i"))
        }.reduce(_ unionByName _)
        def perturb(c: Column, tag: String): Column =
          greatest(lit(0L), c +
            pmod(portableHash(concat(lit(tag), col("step").cast("string"))), lit(101)) -
            lit(50L))
        val obs = sim
          .where(col("beta_micro") === lit(300000L) &&
            col("gamma_micro") === lit(GdMicro * 24L))
          .select(col("step"),
            perturb(col("new_i"), "obs").as("obs_ni"),
            perturb(col("tot_i"), "obst").as("obs_ti"))
        sim.join(obs, "step")
          .select(col("beta_micro"), col("gamma_micro"),
            expr("abs(new_i - obs_ni) DIV 10").as("d1"),
            expr("abs(tot_i - obs_ti) DIV 10").as("d2"))
          .groupBy(col("beta_micro"), col("gamma_micro"))
          .agg(sum(expr("d1 * d1 + d2 * d2")).cast("long").as("sse"))
          .withColumn("is_best",
            when(col("sse") === min(col("sse")).over(Window.partitionBy(lit(1))), 1L)
              .otherwise(0L).cast("long"))
          .orderBy(col("beta_micro"), col("gamma_micro"))
      },
      {
        val districtCtes = {
          val mats = (1 to 2).map { o =>
            s"""matd$o AS MATERIALIZED (
               |  SELECT src, dst, cnt, sum(cnt) OVER (PARTITION BY src) AS tot
               |  FROM (SELECT substring(src, 1, 1) AS src, substring(dst, 1, 1) AS dst,
               |               CAST(sum(cnt) AS BIGINT) AS cnt
               |        FROM mat$o GROUP BY 1, 2))""".stripMargin
          }
          val w0d =
            s"""w0d AS MATERIALIZED (
               |  SELECT substring(area, 1, 1) AS area,
               |         ${stateCols.map(c => s"CAST(sum($c) AS BIGINT) AS $c").mkString(", ")}
               |  FROM w0 GROUP BY 1)""".stripMargin
          (w0d +: mats).mkString(",\n")
        }
        val members = for { base <- BetaBases2; gd <- GdBases } yield (base, gd)
        def tag(base: Long, gd: Long) = s"b${base}g${gd}_"
        val chains = members.map { case (base, gd) =>
          siarChainCtes(tag(base, gd), 2, coefOf(base), seed = "w0d",
            matPrefix = "matd", gd = gd.toString)._1
        }
        // per step: NI from the stage-3 transfer CTE, prevalence tot_i
        // from the POST-step state — mv1/mv2 after the interleaved moves,
        // the final stage-4 CTE (in3d) for the move-less last step —
        // mirroring the Spark side's `states = mv :+ fin`.
        val serCtes = members.map { case (base, gd) =>
          val t = tag(base, gd)
          val steps = (1 to 3).map { st =>
            val stateCte = if (st <= 2) s"${t}mv$st" else s"${t}in${st}d"
            s"""SELECT CAST($st AS BIGINT) AS step,
               |       (SELECT CAST(${Kinds.map(k => s"sum(ti$k)").mkString(" + ")} AS BIGINT)
               |        FROM ${t}in${st}c) AS new_i,
               |       (SELECT CAST(${Kinds.map(k => s"sum(i$k)").mkString(" + ")} AS BIGINT)
               |        FROM $stateCte) AS tot_i""".stripMargin
          }
          s"${t}ser AS MATERIALIZED (${steps.mkString("\nUNION ALL\n")})"
        }
        val allSer = members.map { case (base, gd) =>
          s"SELECT CAST(${base * 24L} AS BIGINT) AS beta_micro, CAST(${gd * 24L} AS BIGINT) AS gamma_micro, step, new_i, tot_i FROM ${tag(base, gd)}ser"
        }.mkString("\nUNION ALL\n")
        s"""${siarPreludeCtes(2)},
           |$districtCtes,
           |${chains.mkString(",\n")},
           |${serCtes.mkString(",\n")},
           |obs AS MATERIALIZED (
           |  SELECT step,
           |         greatest(0, new_i +
           |           (${portableHashSql("'obs' || CAST(step AS VARCHAR)")} % 101) - 50) AS obs_ni,
           |         greatest(0, tot_i +
           |           (${portableHashSql("'obst' || CAST(step AS VARCHAR)")} % 101) - 50) AS obs_ti
           |  FROM ${tag(12500L, GdMicro)}ser),
           |allser AS MATERIALIZED ($allSer),
           |sc AS MATERIALIZED (
           |  SELECT beta_micro, gamma_micro,
           |         CAST(sum(d1 * d1 + d2 * d2) AS BIGINT) AS sse FROM (
           |    SELECT a.beta_micro, a.gamma_micro,
           |           (abs(a.new_i - o.obs_ni) // 10) AS d1,
           |           (abs(a.tot_i - o.obs_ti) // 10) AS d2
           |    FROM allser a JOIN obs o USING (step))
           |  GROUP BY 1, 2)
           |SELECT beta_micro, gamma_micro, sse,
           |       CAST(CASE WHEN sse = (SELECT min(sse) FROM sc) THEN 1 ELSE 0 END AS BIGINT) AS is_best
           |FROM sc ORDER BY beta_micro, gamma_micro""".stripMargin
      })
  )

  def queries: Map[String, Q] = catalog.map { case (n, q, _) => n -> q }.toMap
  def oracle: Map[String, String] = catalog.map { case (n, _, o) => n -> o }.toMap
}
