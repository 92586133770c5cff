package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.{Fixpoint, Tables}
import graft.sources.GraftCatalog
import Portable._

/** Text-analysis + deduplication catalog over `documents` — the
  * training-data-pipeline operators (north star in BASELINE.json):
  * language ID, quality scoring, token counting, fingerprinting, exact
  * dedup, MinHash-LSH near-dedup, SimHash near-dedup, blocked n-gram
  * Jaccard.
  *
  * All hashing goes through [[Portable.portableHash]] (md5-derived 60-bit
  * value) so every query keeps an exact DuckDB oracle. Shingles live in a
  * long-form hashed relation built inside whole-stage codegen (no UDFs,
  * no interpreted array lambdas); the pair joins are LSH-band /
  * inverted-index equi-joins, never O(n²) cross joins — the 100 TB shape.
  */
object TextQueries {
  type Q = (SparkSession, String) => DataFrame

  // ── shared building blocks ──────────────────────────────────────────

  private val HashMod = 1000003L // prime > any band key cardinality we need

  /** Skew guards for the pair-generating equi-joins. A key shared by n
    * rows yields n² candidate pairs, so one pathologically common shingle
    * (boilerplate at web scale) or one hot LSH band key would make a
    * quadratic bucket. Keys whose multiplicity exceeds the cap are dropped
    * from PAIR GENERATION only (a boilerplate shingle carries no dedup
    * signal anyway — the standard near-dedup heuristic). The caps are far
    * above anything the synthetic corpus produces (max observed df: 3 at
    * sf0.01, 6 at sf0.1, seeds add at most +1), so judged output is
    * provably unchanged and the DuckDB oracles stay cap-free; the bound
    * they buy at 100 TB is ≤ Cap² pairs per key instead of n². Pinned by
    * TextDedupSpec ("df cap semantics"). */
  private val DfCap = 64L // t08: shingle-hash document frequency
  private val BandCap = 64L // t06: LSH band-key multiplicity

  /** Long-form hashed shingle relation `(doc_id, source, h)` — one row
    * per distinct 3-word-shingle hash per doc (short texts <3 words
    * degrade to one padded shingle, coalesce-to-empty so Spark and
    * DuckDB render identically). Spark's array higher-order functions
    * (`transform`/`aggregate`) run interpreted, so an array-per-row form
    * would pay ~µs-per-element expression overhead; this relational form
    * keeps shingle construction (posexplode + window leads + concat +
    * md5, one md5 per shingle) fully inside whole-stage codegen, and the
    * pair joins compare hashed longs, not strings. The oracle applies
    * the identical hash over the list form — judged values agree
    * exactly. */
  /** r17 optimization: trigram shingles are built ARRAY-side — the exact
    * form the DuckDB oracle uses (`hashedShinglesSql`'s list_transform
    * over the split array) — instead of the previous posexplode +
    * doc-partitioned window (lead×2 + count). The window form shuffled
    * and SORTED the entire exploded word stream (the corpus' largest
    * intermediate) before hashing; this form is a single projection +
    * explode with ZERO exchanges, and the per-doc `array_distinct`
    * replaces the global `.distinct()` shuffle outright (doc_id is part
    * of the key, so within-doc dedup IS global dedup). Row-for-row
    * identical output incl. the n<3 edge shapes ("w  ", "w v ") — both
    * sides render the same 1..greatest(n-2,1) template. try_element_at
    * (not element_at) for the +1/+2 lookahead: ANSI mode errors on an
    * out-of-bounds index where the oracle's w[i+1] yields NULL. */
  private[queries] def shingleIndex(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), col("source"),
        explode(array_distinct(transform(
          sequence(lit(1), greatest(size(col("w")) - 2, lit(1))),
          i => pmod(portableHash(concat_ws(" ",
            element_at(col("w"), i),
            coalesce(try_element_at(col("w"), i + 1), lit("")),
            coalesce(try_element_at(col("w"), i + 2), lit("")))),
            lit(HashMod))))).as("h"))

  private def hashedShinglesSql(docsRel: String): String =
    s"""sh AS (
       |  SELECT doc_id, source, list_distinct(list_transform(
       |           list_transform(
       |             generate_series(1, greatest(len(w) - 2, 1)),
       |             i -> w[CAST(i AS INT)] || ' ' || coalesce(w[CAST(i AS INT)+1], '') || ' ' || coalesce(w[CAST(i AS INT)+2], '')),
       |           x -> ${portableHashSql("x")} % $HashMod)) AS s
       |  FROM (SELECT doc_id, source, string_split(text, ' ') AS w FROM $docsRel))""".stripMargin

  private val hashedShinglesSqlDef = s"WITH ${hashedShinglesSql("documents")}"

  /** `documents` plus constructed near-duplicates: an exact copy of each
    * doc_id < [[NSeeds]] re-keyed to doc_id + [[SeedOffset]]. The synthetic
    * corpus contains exactly one natural pair above the t08 threshold
    * (max natural Jaccard ≈ 0.97, next ≈ 0.03 at sf0.01), so without
    * seeds the near-dup queries pass vacuously; the seeds guarantee
    * J=1.0 pairs `(i, i + offset)` at every SF while the 567 natural
    * sub-threshold overlap pairs keep exercising the filter. */
  private[queries] val NSeeds = 10L
  // far above any plausible natural doc_id (10^12): at corpus sizes where
  // ids approach the offset, seeded ids would COLLIDE with natural ones
  // and silently corrupt the judged pair/cluster sets
  private[queries] val SeedOffset = 1000000000000L
  private def seededDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    docs.unionByName(
      docs.where(col("doc_id") < NSeeds)
        .select((col("doc_id") + SeedOffset).as("doc_id"),
          col("source"), col("text")))
  }
  private val seededDocsSql =
    s"""seeded AS (
       |  SELECT doc_id, source, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + $SeedOffset, source, text
       |  FROM documents WHERE doc_id < $NSeeds)""".stripMargin

  /** MinHash signature element j: min over hashed shingles of an affine
    * permutation `(a_j * h + b_j) mod P` (P prime, a_j ≠ 0 mod P — a
    * bijection of Z_P, the standard one-hash MinHash family). No per-perm
    * re-hashing: 8 signatures cost 8 multiply-adds per shingle, not 8
    * md5s. Products stay < 2^31 · 2^9 — no 64-bit overflow, identical in
    * DuckDB. */
  private def permA(j: Int): Long = 37L * j + 7
  private def permB(j: Int): Long = 101L * j + 3

  private def minhashSql(j: Int): String =
    s"list_min(list_transform(s, h -> (h * ${permA(j)} + ${permB(j)}) % $HashMod))"

  private val NPerms = 8
  private val RowsPerBand = 2 // 4 bands × 2 rows

  /** LSH banded keys from a shingle index: the 8 MinHash perms in ONE
    * hash aggregation (plain codegen'd `min()` aggs, no per-row array
    * lambdas), exploded to 4 band keys per doc, hot band keys capped at
    * [[BandCap]] (a key shared by n docs makes n²/2 candidates; the
    * count window rides the same (band, key) shuffle the self-join
    * needs, so the cap costs no extra exchange). */
  private def lshBands(idx: DataFrame): DataFrame =
    capBands(bandKeys(idx))

  /** The UNCAPPED band keys — split from [[lshBands]] so t31's
    * incremental maintenance can store them as state and re-apply the
    * cap over the MERGED set (a per-part cap would bind differently
    * than a rebuild's and diverge the candidate sets). */
  /** Per-pair exact intersection counts served from per-doc hash ARRAYS
    * instead of the double exploded join (cand ⨝ idx ⨝ idx → count):
    * one collect_list groupBy builds the doc→array relation, then each
    * candidate pair is ONE row with `array_intersect` — the sz-fold
    * row fan-out of the exploded form (Σ |doc| rows per pair) and its
    * follow-up count aggregation never materialize. r17 measurement at
    * sf0.1: the j14 verify leg 2.99 s (exploded, warm) → 0.45 s
    * (arrays, warm). Inputs: `cand` with (doc_a, doc_b [, extras]),
    * `idx` a (doc_id, h) relation with one row per distinct pair.
    * Returns cand's columns + (ninter, na, nb) as BIGINTs. Pairs with
    * zero overlap SURVIVE with ninter = 0 (the exploded form dropped
    * them at the inner h-join) — every caller filters on a Jaccard /
    * overlap threshold that discards them identically. */
  private[queries] def interCounts(cand: DataFrame, idx: DataFrame): DataFrame = {
    val arrs = idx.groupBy(col("doc_id")).agg(collect_list(col("h")).as("s"))
    cand
      .join(arrs.select(col("doc_id").as("doc_a"), col("s").as("sa")), "doc_a")
      .join(arrs.select(col("doc_id").as("doc_b"), col("s").as("sb")), "doc_b")
      .withColumn("ninter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("na", size(col("sa")).cast("long"))
      .withColumn("nb", size(col("sb")).cast("long"))
      .drop("sa", "sb")
  }

  private[queries] def bandKeys(idx: DataFrame): DataFrame = {
    val sig = idx.groupBy(col("doc_id")).agg(
      min((col("h") * permA(0) + permB(0)) % HashMod).as("m0"),
      (1 until NPerms).map(j =>
        min((col("h") * permA(j) + permB(j)) % HashMod).as(s"m$j")): _*)
    sig.select(col("doc_id"), explode(array(
      (0 until NPerms / RowsPerBand).map { b =>
        val key = concat_ws(":",
          (0 until RowsPerBand).map(r => col(s"m${b * RowsPerBand + r}")): _*)
        struct(lit(b).as("band"), key.as("key"))
      }: _*)).as("e"))
      .select(col("doc_id"), col("e.band"), col("e.key"))
  }

  private[queries] def capBands(bands: DataFrame): DataFrame = {
    val wKey = Window.partitionBy(col("band"), col("key"))
    bands.withColumn("nk", count(lit(1)).over(wKey))
      .where(col("nk") <= BandCap).drop("nk")
  }

  /** t31/t33 shared judged tail: banded candidate pairs + exact-Jaccard
    * confirm read THROUGH a maintained inverted index (never a
    * re-shingle) — the probe a deployed near-dup index serves. */
  private[queries] def nearDupPairsOf(idx2: DataFrame, bands2: DataFrame): DataFrame = {
    val cand = lshCandidates(bands2.persist())
    // the confirm still reads only the MAINTAINED index state (grouped
    // to per-doc arrays — interCounts), never a re-shingle
    interCounts(cand, idx2)
      .select(col("doc_a"), col("doc_b"),
        round(col("ninter").cast("double") /
          (col("na") + col("nb") - col("ninter")).cast("double"), 6).as("jac"))
      .where(col("jac") >= 0.3)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** t31/t33 shared oracle: the FULL REBUILD over the final corpus —
    * base slice minus the retention delete, plus the ingest wave and
    * the seeded exact copies. Both maintenance paths (t31's simulated
    * deltas, t33's real change feed) must land exactly here. */
  private[queries] val incrementalLshOracleSql: String = {
    val docs2Sql =
      s"""docs2 AS (
         |  SELECT doc_id, source, text FROM documents
         |  WHERE (doc_id % 3 <> 2 AND doc_id % 5 <> 0) OR doc_id % 3 = 2
         |  UNION ALL
         |  SELECT doc_id + $SeedOffset, source, text FROM documents
         |  WHERE doc_id < $NSeeds
         |    AND (doc_id % 3 = 2 OR doc_id % 5 <> 0))""".stripMargin
    s"""WITH $docs2Sql,
       |${hashedShinglesSql("docs2")},
       |sig AS (
       |  SELECT doc_id, s,
       |         $sigSqlCols
       |  FROM sh),
       |$cappedBandsSql,
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         ${jaccardSql("a.s", "b.s")} AS jac
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, jac FROM pairs
       |WHERE jac >= 0.3 ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Unique catalog/scratch roots per t33 invocation: the change-feed
    * interval is addressed by absolute commit ids, so a re-run must
    * start a fresh chain, not extend a previous invocation's. */
  private val t33Invocation = new java.util.concurrent.atomic.AtomicInteger(0)

  /** t34/st32 shared probe: t30's inverted-index read over MAINTAINED
    * postings + doc-length state — the 3-term semi-filter pushes into
    * the postings scan, df/totals re-derive from the state, the
    * integer-exact saturation arithmetic is t30's verbatim. */
  private[queries] def bm25ProbeOf(post2: DataFrame,
                                   dl2: DataFrame): DataFrame = {
    val qTerms = Seq("scan", "join", "merge")
    val totals = dl2.agg(count(lit(1)).as("n"), sum(col("dl")).as("t"))
    val tf = post2.where(col("word").isin(qTerms: _*)).persist()
    val dfreq = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), "word")
      .join(dl2, "doc_id")
      .crossJoin(broadcast(totals))
      .withColumn("term_us", round(
        log((lit(2) * col("n") + 2).cast("double")
          / (lit(2) * col("df") + 1).cast("double"))
        * (lit(44) * col("tf") * col("t")).cast("double")
        / (lit(20) * col("tf") * col("t") + lit(6) * col("t")
           + lit(18) * col("dl") * col("n")).cast("double")
        * 1000000).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("term_us")).as("score_us"))
      .orderBy(col("score_us").desc, col("doc_id")).limit(10)
      .select(col("doc_id"), col("n_terms"), col("score_us"))
  }

  /** The (doc_id, word, tf) postings of a (doc_id, text) frame —
    * tokenization for the maintained BM25 state (t34/st32). */
  private[queries] def bm25Tokenize(d: DataFrame): DataFrame = d
    .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))

  /** t34/st32 shared oracle: t30's retrieval over the FULL REBUILD of
    * the final corpus (base slice minus the retention delete plus the
    * ingest wave). */
  private[queries] val maintainedBm25OracleSql: String =
    """WITH docs2 AS (
      |  SELECT doc_id, text FROM documents
      |  WHERE (doc_id % 3 <> 2 AND doc_id % 5 <> 0) OR doc_id % 3 = 2),
      |tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM docs2),
      |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY 1),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS t FROM dl),
      |tf AS (
      |  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf FROM tok
      |  WHERE word IN ('scan', 'join', 'merge') GROUP BY 1, 2),
      |dfq AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |scored AS (
      |  SELECT tf.doc_id,
      |         CAST(round(ln(CAST(2 * tot.n + 2 AS DOUBLE) / CAST(2 * dfq.df + 1 AS DOUBLE))
      |           * CAST(44 * tf.tf * tot.t AS DOUBLE)
      |           / CAST(20 * tf.tf * tot.t + 6 * tot.t + 18 * dl.dl * tot.n AS DOUBLE)
      |           * 1000000, 0) AS BIGINT) AS term_us
      |  FROM tf JOIN dfq USING (word) JOIN dl USING (doc_id), tot)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
      |       CAST(sum(term_us) AS BIGINT) AS score_us
      |FROM scored GROUP BY doc_id
      |ORDER BY score_us DESC, doc_id LIMIT 10""".stripMargin

  /** Distinct candidate pairs (doc_a < doc_b) sharing any band key —
    * a hash equi-join on the bucket, never an all-pairs cross join. */
  private[queries] def lshCandidates(bands: DataFrame): DataFrame =
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

  /** Oracle CTE snippets for the MinHash band machinery (`sig`, `bands`
    * over a shingle CTE `sh`) — shared by t06 and t10. */
  private def sigSqlCols: String =
    (0 until NPerms).map(j => s"${minhashSql(j)} AS m$j").mkString(",\n         ")
  private def bandRowsSql: String =
    (0 until NPerms / RowsPerBand).map { b =>
      val key = (0 until RowsPerBand).map(r => s"CAST(m${b * RowsPerBand + r} AS VARCHAR)")
        .mkString(" || ':' || ")
      s"SELECT doc_id, s, $b AS band, $key AS key FROM sig"
    }.mkString("\n  UNION ALL\n  ")

  /** Oracle twin of the [[BandCap]] hot-key guard — the Spark side caps
    * band-key multiplicity, so the oracle MUST mirror it: at a scale
    * where some key exceeds the cap, an uncapped oracle would keep
    * edges Spark drops and the judged outputs would diverge. */
  private def cappedBandsSql: String =
    s"""bands AS (
       |  SELECT * FROM (
       |  $bandRowsSql)
       |  QUALIFY count(*) OVER (PARTITION BY band, key) <= $BandCap)""".stripMargin

  /** t10's converged min-label propagation over the LSH duplicate
    * edges — (doc_id, cluster) for every doc touching at least one
    * candidate edge; shared by t10 (cluster table) and t27 (apply), each
    * passing its own name as `query`. All cluster state stays
    * distributed. */
  private[graft] def dupLabels(s: SparkSession, dir: String, query: String): DataFrame = {
    val bands = lshBands(
      shingleIndex(seededDocs(s, dir)).drop("source")).persist()
    val edges = lshCandidates(bands)
    // both directions from ONE pass over the pair join (a two-branch
    // union would run the band self-join twice)
    val sym = edges.select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist()
    minLabels(sym, query)
  }

  /** Min-label propagation over the symmetric edge frame `sym` (src,
    * dst): every vertex ends labelled (doc_id, cluster) with its
    * component's min doc_id. A row moves when a neighbour offers a
    * smaller label. */
  private def minLabels(sym: DataFrame, query: String): DataFrame =
    Fixpoint.converge(query, sym.select(col("src").as("doc_id")).distinct()
        .select(col("doc_id"), col("doc_id").as("cluster"))) { labels =>
      val nmin = sym
        .join(labels.select(col("doc_id").as("dst"), col("cluster").as("ncl")), "dst")
        .groupBy(col("src")).agg(min(col("ncl")).as("nmin"))
      labels
        .join(nmin.select(col("src").as("doc_id"), col("nmin")), Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("cluster"), coalesce(col("nmin"), col("cluster"))).as("cluster"),
          (col("nmin") < col("cluster")).as("moved"))
    }

  /** One oracle, two judged engines: the recursive-CTE transitive
    * closure over the LSH candidate edge set labels every doc with its
    * component's min doc_id — judged against BOTH t10 (min-label
    * propagation) and t10b (small-star/large-star), so the two
    * distributed algorithms are pinned to identical cluster output. */
  private def dupClustersOracleSql: String =
    s"""$dupClustersCtes
       |SELECT doc_id, cluster, doc_id = cluster AS is_rep
       |FROM labels ORDER BY doc_id""".stripMargin

  /** The cluster chain alone (through `labels`) — shared by the t10/t10b
    * oracle and t27's apply oracle. */
  private def dupClustersCtes: String =
    s"""WITH RECURSIVE $seededDocsSql,
       |${hashedShinglesSql("seeded")},
       |sig AS (
       |  SELECT doc_id, s,
       |         $sigSqlCols
       |  FROM sh),
       |$cappedBandsSql,
       |edges AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |sym AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM edges
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM edges),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM sym
       |  UNION
       |  SELECT r.src, s2.dst FROM reach r JOIN sym s2 ON r.dst = s2.src
       |  WHERE s2.dst <> r.src),
       |labels AS (
       |  SELECT src AS doc_id, least(src, min(dst)) AS cluster
       |  FROM reach GROUP BY src)""".stripMargin

  /** Jaccard between two hashed-shingle lists (oracle side; the Spark
    * side derives the same value from inverted-index match counts). */
  private def jaccardSql(a: String, b: String): String = {
    val inter = s"len(list_intersect($a, $b))"
    s"round(CAST($inter AS DOUBLE) / CAST(len($a) + len($b) - $inter AS DOUBLE), 6)"
  }

  /** t21 Bloom machinery. [[BloomSalts]] = k hash functions (salted
    * [[Portable.portableHash]]); the filter size m is the smallest
    * power of two ≥ 64·|eval| from [[BloomPowers]] — integer-exact on
    * both engines (float `log2` could straddle a rounding boundary at
    * exact powers). Fill ratio stays ≈ k/64 ≈ 4.7% at ANY corpus size,
    * so the false-positive rate is (k/64)^k ≈ 1e-4 — the confirm join
    * downstream sees only that sliver plus true hits. */
  private val BloomSalts = 3
  private val BloomPowers: Seq[Long] = (6 to 40).map(1L << _)
  private def bloomPowersSql: String = BloomPowers.mkString(", ")

  /** Bloom-prefilter decontamination core over a tagged relation
    * `(doc_id, digest, split)`: flags train docs whose k salted digest
    * positions are ALL set in the filter built from the test split's
    * digests, each with an exact-confirm boolean. `forcedM` overrides
    * the scale-adaptive filter size (Round5cOpsSpec uses a tiny m to
    * make the false-positive path bind; judged queries pass None). */
  private[graft] def bloomDecontaminate(tagged: DataFrame,
      forcedM: Option[Long]): DataFrame = {
    val testD = tagged.where(col("split") === "test")
      .select(col("digest")).distinct()
    val mDf = forcedM match {
      case Some(m) =>
        tagged.sparkSession.range(1).select(lit(m).as("m"))
      case None =>
        // the v07 discipline: the parameter comes from count(*) INSIDE
        // the plan (a 1-row frame cross-joined everywhere), never from
        // a driver-side collect
        testD.agg(count(lit(1)).as("n"))
          .select(explode(array(BloomPowers.map(lit(_)): _*)).as("mc"), col("n"))
          .where(col("mc") >= col("n") * 64)
          .agg(min(col("mc")).as("m"))
    }
    val salts = array((0 until BloomSalts).map(j => lit(j)): _*)
    def posCol: Column =
      pmod(portableHash(concat_ws(":", col("digest"), col("j"))), col("m"))
    val bits = testD.crossJoin(broadcast(mDf))
      .select(col("digest"), explode(salts).as("j"), col("m"))
      .select(posCol.as("pos"))
      .distinct()
    val probe = tagged.where(col("split") === "train")
      .crossJoin(broadcast(mDf))
      .select(col("doc_id"), col("digest"), explode(salts).as("j"), col("m"))
      .select(col("doc_id"), col("digest"), col("j"), posCol.as("pos"))
    // the bit set broadcasts (≤ k·|eval| positions); only probe rows
    // landing on a set bit survive into the (doc, salt) count — the
    // groupBy shuffles ~fill·k·|train| rows, not the corpus
    probe.join(broadcast(bits), Seq("pos"))
      .groupBy(col("doc_id"), col("digest"))
      .agg(countDistinct(col("j")).as("nhit"))
      .where(col("nhit") === BloomSalts)
      .join(testD.select(col("digest"), lit(true).as("hit")), Seq("digest"), "left")
      .select(col("doc_id"), col("digest"),
        coalesce(col("hit"), lit(false)).as("confirmed"))
      .orderBy(col("doc_id"))
  }

  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("batch", "stream", "window"),
    "en" -> Seq("the", "a", "order"),
    "es" -> Seq("data", "query", "table"),
    "fr" -> Seq("join", "merge", "group"),
    "zh" -> Seq("spark", "vector", "hash"))

  val catalog: Seq[(String, Q, String)] = Seq(

    // ── language ID: n-gram/stopword marker heuristic, argmax with
    //    deterministic tie-break ──
    ("t01_lang_id",
      (s: SparkSession, dir: String) => {
        val docs = Tables(s, dir, "documents")
          .withColumn("w", split(col("text"), " "))
        val scored = docs.select(col("doc_id"), explode(array(
          langMarkers.map { case (lang, ms) =>
            struct(lit(lang).as("lang"),
              size(filter(col("w"),
                x => ms.map(m => x === lit(m)).reduce(_ || _))).cast("long").as("score"))
          }: _*)).as("e"))
          .select(col("doc_id"), col("e.lang"), col("e.score"))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("lang").asc)
        scored.withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .select(col("doc_id"),
            when(col("score") > 0, col("lang")).otherwise("und").as("pred_lang"),
            col("score"))
          .orderBy(col("doc_id"))
      },
      {
        val branches = langMarkers.map { case (lang, ms) =>
          val inList = ms.map(m => s"'$m'").mkString(", ")
          s"SELECT doc_id, '$lang' AS lang, CAST(len(list_filter(w, x -> x IN ($inList))) AS BIGINT) AS score FROM docs"
        }.mkString("\n  UNION ALL\n  ")
        s"""WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           |scored AS (
           |  $branches),
           |ranked AS (
           |  SELECT *, row_number() OVER (PARTITION BY doc_id
           |            ORDER BY score DESC, lang ASC) AS rn
           |  FROM scored)
           |SELECT doc_id, CASE WHEN score > 0 THEN lang ELSE 'und' END AS pred_lang, score
           |FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin
      }),

    // ── quality scoring: length / type-token / stopword-ratio composite ──
    ("t02_quality_score",
      (s: SparkSession, dir: String) => {
        Tables(s, dir, "documents")
          .withColumn("w", split(col("text"), " "))
          .withColumn("n_words", size(col("w")).cast("long"))
          .withColumn("n_uniq", size(array_distinct(col("w"))).cast("long"))
          .withColumn("n_stop", size(filter(col("w"),
            x => x === "a" || x === "the")).cast("long"))
          .withColumn("ttr",
            round(col("n_uniq").cast("double") / col("n_words").cast("double"), 6))
          .withColumn("stop_ratio",
            round(col("n_stop").cast("double") / col("n_words").cast("double"), 6))
          .select(col("doc_id"), col("n_words"), col("n_uniq"),
            col("ttr"), col("stop_ratio"))
          .orderBy(col("doc_id"))
      },
      """SELECT doc_id,
        |  CAST(len(w) AS BIGINT) AS n_words,
        |  CAST(len(list_distinct(w)) AS BIGINT) AS n_uniq,
        |  round(CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE), 6) AS ttr,
        |  round(CAST(len(list_filter(w, x -> x = 'a' OR x = 'the')) AS DOUBLE)
        |        / CAST(len(w) AS DOUBLE), 6) AS stop_ratio
        |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |ORDER BY doc_id""".stripMargin),

    // ── token counting: whitespace + BPE-ish regex ──
    ("t03_token_count",
      (s: SparkSession, dir: String) => {
        Tables(s, dir, "documents")
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("ws_tokens"),
            size(regexp_extract_all(col("text"),
              lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast("long").as("re_tokens"),
            length(col("text")).cast("long").as("n_chars"))
          .orderBy(col("doc_id"))
      },
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS re_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ── document fingerprint: rolling polynomial hash over the word
    //    sequence (order-sensitive, unlike a set hash) ──
    ("t04_fingerprint",
      (s: SparkSession, dir: String) => {
        // native codegen'd kernel (one JVM pass; t11 pins bit-parity with
        // the interpreted transform+aggregate HOF form it replaced)
        Tables(s, dir, "documents")
          .select(col("doc_id"),
            call_function("fingerprint_words", col("text")).as("fp"))
          .orderBy(col("doc_id"))
      },
      s"""SELECT doc_id,
         |  list_reduce(
         |    list_prepend(CAST(0 AS BIGINT),
         |      list_transform(string_split(text, ' '),
         |                     w -> ${portableHashSql("w")} % 1000)),
         |    (acc, h) -> (acc * 31 + h) % 2147483647) AS fp
         |FROM documents ORDER BY doc_id""".stripMargin),

    // ── t16: train/test DECONTAMINATION — the split-integrity gate a
    //    training pipeline runs before any eval: find test-split
    //    documents whose exact content digest also appears in the train
    //    split (the split is keyed by doc_id, so two ids carrying the
    //    same text can land on opposite sides — exactly how benchmark
    //    leakage happens; the seeded corpus pins two such straddling
    //    twins at every SF). One digest-keyed left-semi join — at 100 TB
    //    it shuffles on digest and the native bloom runtime filter
    //    (RuntimeFilterSpec) pre-drops test rows whose digest cannot be
    //    in train. N-gram-overlap decontamination is this same shape
    //    over t08's shingle relation. ──
    ("t16_decontaminate",
      (s: SparkSession, dir: String) => {
        val tagged = seededDocs(s, dir)
          .select(col("doc_id"), md5(col("text").cast("binary")).as("digest"),
            when(pmod(portableHash(col("doc_id").cast("string")), lit(100)) < 90,
              "train").otherwise("test").as("split"))
        val trainDigests = tagged.where(col("split") === "train")
          .select(col("digest")).distinct()
        tagged.where(col("split") === "test")
          .join(trainDigests, Seq("digest"), "left_semi")
          .select(col("doc_id"), col("digest"))
          .orderBy(col("doc_id"))
      },
      s"""WITH $seededDocsSql,
         |tagged AS (
         |  SELECT doc_id, md5(text) AS digest,
         |         CASE WHEN ${portableHashSql("CAST(doc_id AS VARCHAR)")} % 100 < 90
         |              THEN 'train' ELSE 'test' END AS split
         |  FROM seeded)
         |SELECT doc_id, digest FROM tagged t
         |WHERE split = 'test'
         |  AND EXISTS (SELECT 1 FROM tagged tr
         |              WHERE tr.split = 'train' AND tr.digest = t.digest)
         |ORDER BY doc_id""".stripMargin),

    // ── t17: n-gram-overlap decontamination — the fuzzy form of t16
    //    (the GPT-3/PaLM eval-hygiene rule): a test doc is contaminated
    //    when ≥90% of its distinct word-3-gram shingles also occur
    //    anywhere in the train split — catching partial copies and
    //    near-verbatim rewrites a digest can't. CONTAINMENT, not an
    //    absolute count: templated corpora share so many natural
    //    3-grams that any fixed count threshold saturates (measured:
    //    every sf0.01 test doc shares ≥5 shingles). Shape: the shingle
    //    relation tagged by split, the train side reduced to DISTINCT
    //    hashes (so hot shingles cannot fan out — no df cap needed),
    //    one hash join + per-doc count against the doc's own shingle
    //    total. ──
    ("t17_ngram_decontaminate",
      (s: SparkSession, dir: String) => {
        val sh = shingleIndex(seededDocs(s, dir))
          .withColumn("split",
            when(pmod(portableHash(col("doc_id").cast("string")), lit(100)) < 90,
              "train").otherwise("test"))
        val trainSh = sh.where(col("split") === "train")
          .select(col("h")).distinct()
        val testSh = sh.where(col("split") === "test")
        val tot = testSh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_tot"))
        testSh.join(trainSh, "h")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
          .join(tot, "doc_id")
          // filter on the UNROUNDED ratio (exactly what the oracle
          // compares), round only for display — a ratio like 0.89996
          // must fall on the same side in both engines
          .where(col("n_shared").cast("double") / col("n_tot").cast("double") >= 0.9)
          .select(col("doc_id"), col("n_shared"), col("n_tot"),
            round(col("n_shared").cast("double") / col("n_tot").cast("double"), 4)
              .as("containment"))
          .orderBy(col("doc_id"))
      },
      s"""WITH $seededDocsSql,
         |${hashedShinglesSql("seeded")},
         |tagged AS (
         |  SELECT doc_id, unnest(s) AS h,
         |         CASE WHEN ${portableHashSql("CAST(doc_id AS VARCHAR)")} % 100 < 90
         |              THEN 'train' ELSE 'test' END AS split
         |  FROM sh),
         |train AS (SELECT DISTINCT h FROM tagged WHERE split = 'train'),
         |tot AS (
         |  SELECT doc_id, count(*) AS n_tot FROM tagged
         |  WHERE split = 'test' GROUP BY doc_id),
         |hits AS (
         |  SELECT t.doc_id, count(*) AS n_shared
         |  FROM tagged t JOIN train USING (h)
         |  WHERE t.split = 'test' GROUP BY t.doc_id)
         |SELECT doc_id, CAST(n_shared AS BIGINT) AS n_shared,
         |       CAST(n_tot AS BIGINT) AS n_tot,
         |       round(CAST(n_shared AS DOUBLE) / CAST(n_tot AS DOUBLE), 4) AS containment
         |FROM hits JOIN tot USING (doc_id)
         |WHERE CAST(n_shared AS DOUBLE) / CAST(n_tot AS DOUBLE) >= 0.9
         |ORDER BY doc_id""".stripMargin),

    // ── exact dedup: hash-groupBy on content digest ──
    ("t05_dedup_exact",
      (s: SparkSession, dir: String) => {
        Tables(s, dir, "documents")
          .groupBy(md5(col("text").cast("binary")).as("digest"))
          .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("n_copies"))
          .orderBy(col("rep_id"))
      },
      """SELECT md5(text) AS digest, min(doc_id) AS rep_id,
        |       CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY rep_id""".stripMargin),

    // ── MinHash + LSH near-dedup: shingle → 8-perm signature → 4 bands
    //    × 2 rows → bucket equi-join → exact-Jaccard confirm ≥ 0.3 ──
    ("t06_dedup_minhash",
      (s: SparkSession, dir: String) => {
        val idx = shingleIndex(Tables(s, dir, "documents"))
          .persist() // feeds sig + confirm
        val bands = lshBands(idx).persist() // self-joined below
        val cand = lshCandidates(bands)
        // Exact-Jaccard confirm via per-doc arrays ([[interCounts]]): a
        // zero-overlap candidate survives with ninter = 0 and drops at
        // the J >= 0.3 filter, exactly as its J=0 row never formed under
        // the previous exploded inner join.
        interCounts(cand, idx)
          .select(col("doc_a"), col("doc_b"),
            round(col("ninter").cast("double") /
              (col("na") + col("nb") - col("ninter")).cast("double"), 6).as("jac"))
          .where(col("jac") >= 0.3)
          .orderBy(col("doc_a"), col("doc_b"))
      },
      {
        s"""$hashedShinglesSqlDef,
           |sig AS (
           |  SELECT doc_id, s,
           |         $sigSqlCols
           |  FROM sh),
           |$cappedBandsSql,
           |pairs AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |         ${jaccardSql("a.s", "b.s")} AS jac
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
           |SELECT doc_a, doc_b, jac FROM pairs
           |WHERE jac >= 0.3 ORDER BY doc_a, doc_b""".stripMargin
      }),

    // ── SimHash near-dedup: 60-bit signed-bit-sum sketch over the word
    //    multiset ([[Portable.portableHash]] is 60-bit, so bits ≥ 60 of
    //    any word hash are constant zero — a "64-bit" sketch's top nibble
    //    would carry no signal), 4×15-bit-band LSH join with the
    //    [[BandCap]] hot-band guard, Hamming ≤ 2. The 15-bit band key
    //    space (32768 values/band vs the former 256) plus the cap bounds
    //    the hot bucket at ≤ BandCap² candidate pairs at ANY corpus size;
    //    the oracle mirrors the cap via QUALIFY so the judged pair sets
    //    stay identical at a scale where it binds. Seeded corpus
    //    ([[seededDocs]]: exact copies → Hamming 0) so the judged output
    //    is non-empty by construction at every SF. ──
    ("t07_dedup_simhash",
      (s: SparkSession, dir: String) => {
        val wordCounts = seededDocs(s, dir)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
          .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("cnt"))
          .withColumn("h", portableHash(col("word")))
        // 60 columnar signed-bit sums in ONE aggregation (no 60×-row bit
        // explode, no second shuffle): per (doc, word) the contribution to
        // bit b is cnt * (±1 by bit b of h); groupBy(doc) sums all 60 at
        // once, then the signs fold into the final 60-bit sketch.
        val bitSums = wordCounts
          .groupBy(col("doc_id"))
          .agg(
            sum(col("cnt") * (shiftright(col("h"), 0) % 2 * 2 - 1)).as("sm0"),
            (1 until 60).map(b =>
              sum(col("cnt") * (shiftright(col("h"), b) % 2 * 2 - 1)).as(s"sm$b")): _*)
        val sim = bitSums.select(col("doc_id"),
          (0 until 60).map(b =>
            when(col(s"sm$b") > 0, lit(1L << b)).otherwise(0L))
            .reduce(_ + _).as("simhash"))
        val wKey = Window.partitionBy(col("band"), col("key"))
        val bands = sim.persist() // self-joined below: one sketch pass
          .select(col("doc_id"), col("simhash"),
          explode(array((0 until 4).map { i =>
            struct(lit(i).as("band"),
              (shiftright(col("simhash"), i * 15) % 32768).as("key"))
          }: _*)).as("e"))
          .select(col("doc_id"), col("simhash"), col("e.band"), col("e.key"))
          // hot-band cap rides the same (band, key) shuffle the self-join
          // needs — the t06 skew-guard pattern, same constant
          .withColumn("nk", count(lit(1)).over(wKey))
          .where(col("nk") <= BandCap).drop("nk")
        bands.as("a").join(bands.as("b"),
            col("a.band") === col("b.band") && col("a.key") === col("b.key")
              && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
            bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("hamming"))
          .distinct()
          .where(col("hamming") <= 2)
          .orderBy(col("doc_a"), col("doc_b"))
      },
      s"""WITH $seededDocsSql,
         |wc AS (
         |  SELECT doc_id, word, count(*) AS cnt,
         |         ${portableHashSql("word")} AS h
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM seeded)
         |  GROUP BY doc_id, word),
         |bits AS (
         |  SELECT doc_id, b,
         |         sum(cnt * (((h >> CAST(b AS INT)) % 2) * 2 - 1)) AS sm
         |  FROM wc, (SELECT unnest(generate_series(0, 59)) AS b)
         |  GROUP BY doc_id, b),
         |sim AS (
         |  SELECT doc_id,
         |         CAST(sum(CASE WHEN sm > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE 0 END) AS BIGINT) AS simhash
         |  FROM bits GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, simhash, band, (simhash >> (band * 15)) % 32768 AS key
         |  FROM sim, (SELECT unnest(generate_series(0, 3)) AS band)
         |  QUALIFY count(*) OVER (PARTITION BY band, key) <= $BandCap),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, hamming FROM pairs
         |WHERE hamming <= 2 ORDER BY doc_a, doc_b""".stripMargin),

    // ── t30: BM25 ranked retrieval — the scoring function behind
    //    retrieval-based quality filtering and dedup-by-retrieval in
    //    training-data pipelines (k1=1.2, b=0.75; the idf is the
    //    NON-NEGATIVE SMOOTHED variant ln((n+1)/(df+0.5)) — the
    //    Lucene-style form, not Robertson's ln((n−df+0.5)/(df+0.5)),
    //    which can go negative for df > n/2). The access
    //    path is the scale story: tokens are SEMI-FILTERED to the query's
    //    terms before any aggregation (the inverted-index read pattern —
    //    cost is the postings of 3 terms, not the corpus vocabulary), df
    //    and the corpus totals ride broadcasts, and the only
    //    corpus-bounded relation is the per-doc length table every
    //    retrieval system precomputes. The rational core of the score is
    //    EXACT INTEGER arithmetic: with k1=6/5, b=3/4 the saturation
    //    term tf·(k1+1)/(tf + k1·(1−b+b·dl·n/t)) reduces to
    //    44·tf·t / (20·tf·t + 6·t + 18·dl·n) over BIGINTs, so the only
    //    float is one ln((2n+2)/(2df+1)) per (doc, term), rounded to
    //    micro-units past the ~1-ulp libm/JVM divergence and SUMMED AS
    //    BIGINT — the chain of integer sums is bit-stable where a
    //    float-summed score would fork on add order. ──
    // ── t32: INCREMENTAL CONNECTED COMPONENTS — the graph member of
    //    the incremental-maintenance family (u05/s47 views, t31 LSH,
    //    v33 IVF): dup-cluster labels maintained under newly arriving
    //    edges WITHOUT re-propagating the old graph. Phase 1 converges
    //    min-label propagation over the BASE edge slice and persists
    //    the labels; phase 2 re-converges over the Δ edges UNION the
    //    CONTRACTED state (each old node contributes one node→cluster
    //    edge) — components arrive pre-collapsed, so rounds scale with
    //    the contracted graph's diameter (usually 1–2), not the
    //    original's, and the base edge set never reappears. The
    //    identity holds for ANY base/Δ partition of the final edges
    //    (state is just a subset's fixpoint), so the judged oracle is
    //    t10's recursive-CTE closure over the FULL final graph
    //    VERBATIM — incremental must land exactly where the rebuild
    //    lands, labels and representatives included. Adds-only by
    //    design: edge REMOVAL can split components, which min-label
    //    contraction cannot express — a removal triggers recompute of
    //    the affected components (the documented recompute path, same
    //    contract as v33's offline retraining). ──
    ("t32_incremental_cc",
      (s: SparkSession, dir: String) => {
        val bands = lshBands(
          shingleIndex(seededDocs(s, dir)).drop("source")).persist()
        val edges = lshCandidates(bands).persist()
        def symOf(e: org.apache.spark.sql.DataFrame) =
          e.select(explode(array(
              struct(col("doc_a").as("src"), col("doc_b").as("dst")),
              struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
            .select(col("e.src").as("src"), col("e.dst").as("dst"))
        val even = (c: org.apache.spark.sql.Column) => pmod(c, lit(2)) === 0
        // ── phase 1: the base slice's fixpoint, persisted as state ──
        val statePath = scratchPath("t32_cc_state")
        minLabels(symOf(edges.where(even(col("doc_a")) &&
            even(col("doc_b")))).persist(), "t32")
          .write.mode("overwrite").parquet(statePath)
        // ── phase 2: Δ edges + contracted state — never the base edges
        val state = s.read.parquet(statePath)
        val deltaSym = symOf(edges.where(!(even(col("doc_a")) &&
          even(col("doc_b")))))
        val labelSym = symOf(state.where(col("doc_id") =!= col("cluster"))
          .select(col("doc_id").as("doc_a"), col("cluster").as("doc_b")))
        minLabels(deltaSym.unionByName(labelSym).persist(), "t32")
          .select(col("doc_id"), col("cluster"),
            (col("doc_id") === col("cluster")).as("is_rep"))
          .orderBy(col("doc_id"))
      },
      dupClustersOracleSql),

    // ── t31: INCREMENTAL LSH INDEX MAINTENANCE — the LLM-pipeline ∘
    //    lakehouse compose: t06's near-dup machinery kept as a
    //    MATERIALIZED INDEX under a changelog, u05's state algebra
    //    applied to retrieval state. The full build shingles + signs
    //    the whole corpus ONCE into two parquet artifacts (the
    //    inverted shingle index and the UNCAPPED band keys); after the
    //    corpus changes, maintenance folds the state — removed docs'
    //    rows filtered out of both indexes, ONLY the added docs
    //    shingled and MinHash-signed (the per-doc position windows and
    //    8-perm aggregation, the expensive part, run over O(Δ) docs) —
    //    and the BandCap hot-key guard is re-applied over the MERGED
    //    band set, because a cap frozen into per-part state would bind
    //    differently than a rebuild's and silently diverge the
    //    candidate sets (why the state stores UNCAPPED keys). The
    //    judged rows are the full near-dup pipeline (banded candidate
    //    join + exact-Jaccard confirm through the maintained inverted
    //    index) read from the MAINTAINED state, against the oracle's
    //    FULL REBUILD over the final corpus — the identity that makes
    //    index maintenance deployable at 100 TB, where re-shingling a
    //    corpus for a 0.1% daily delta is the cost model's failure
    //    mode. Seeded adds (exact copies at +10^12) guarantee
    //    non-vacuous J=1.0 pairs at every SF. ──
    ("t31_incremental_lsh_index",
      (s: SparkSession, dir: String) => {
        val docs = Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("text"))
        val corpus1 = docs.where(pmod(col("doc_id"), lit(3)) =!= 2)
        val idxPath = scratchPath("t31_idx")
        val bandPath = scratchPath("t31_bands")
        // ── FULL BUILD: the last time the surviving corpus is shingled
        val idx1 = shingleIndex(corpus1).persist()
        idx1.write.mode("overwrite").parquet(idxPath)
        bandKeys(idx1).write.mode("overwrite").parquet(bandPath)
        idx1.unpersist()
        // ── the corpus changes: removes (doc_id % 5 = 0 of the built
        //    corpus) and adds (the % 3 = 2 third, plus seeded copies of
        //    final-corpus docs so the judged pairs are never vacuous)
        val adds = docs.where(pmod(col("doc_id"), lit(3)) === 2)
          .unionByName(docs.where(col("doc_id") < 10 &&
              (pmod(col("doc_id"), lit(3)) === 2 ||
                pmod(col("doc_id"), lit(5)) =!= 0))
            .select((col("doc_id") + 1000000000000L).as("doc_id"),
              col("source"), col("text")))
        // ── MAINTENANCE: state fold + O(Δ) shingling, nothing else
        val keep = pmod(col("doc_id"), lit(5)) =!= 0
        val addIdx = shingleIndex(adds).persist()
        val idx2 = s.read.parquet(idxPath).where(keep)
          .unionByName(addIdx).persist()
        val bands2 = capBands(
          s.read.parquet(bandPath).where(keep)
            .unionByName(bandKeys(addIdx)))
        nearDupPairsOf(idx2, bands2)
      },
      incrementalLshOracleSql),

    // ── t33: LSH INDEX MAINTENANCE FROM THE REAL CHANGE FEED — the
    //    last link between the lakehouse arc and the LLM-pipeline arc:
    //    t31 proved state-fold = rebuild with deltas SIMULATED by
    //    modular predicates; here the corpus of record lives in a
    //    `mor=true` ledger table, the mutations are the connector's own
    //    row-level verbs (MoR DELETE tombstones + append), and the
    //    index maintenance consumes `option("changesFrom", v)` — the
    //    same CDC source st27 proves for aggregates, now proven for
    //    RETRIEVAL state. The fold is u05's sign algebra over the feed:
    //    net < 0 keys (delete events carry before-images, so the
    //    retraction leg is exactly the deleted keys) anti-join both
    //    state artifacts; net > 0 keys are the ONLY docs re-shingled —
    //    their text fetched from the content store by a broadcast join
    //    whose build side derives from the feed (O(Δ) content lookups;
    //    on a keyed 100 TB content store these are point reads, and the
    //    scan here carries no other consumer). BandCap re-applies over
    //    the MERGED band set (t31's cap discipline — state stores
    //    uncapped keys). Judged rows: the full near-dup pipeline read
    //    from the CDF-maintained state against the oracle's FULL
    //    REBUILD over the final corpus — t31's oracle verbatim, so the
    //    two maintenance paths (simulated Δ and real CDC) are pinned to
    //    the same rebuild identity. PlanQualitySpec pins the refresh
    //    plan's scan set: state parquet + ONE `Changes:` batch scan +
    //    the Δ-bounded content fetch, the base corpus shingle provably
    //    absent. ──
    ("t33_lsh_cdf_maintenance",
      (s: SparkSession, dir: String) => {
        val inv = t33Invocation.incrementAndGet()
        val cat = s"graft_t33_$inv"
        GraftCatalog.register(s, cat, scratchPath(s"t33_catroot_$inv"))
        val docs = Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("text"))
        val meta = Tables(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
        // ── the corpus of record: v1 = the %3!=2 slice, MoR so the
        //    retention delete below lands as tombstones (CDF-total) ──
        meta.where(pmod(col("doc_id"), lit(3)) =!= 2)
          .writeTo(s"$cat.t33docs").tableProperty("mor", "true").create()
        // ── FULL BUILD at v1: the last time this corpus is shingled ──
        val idxPath = scratchPath(s"t33_idx_$inv")
        val bandPath = scratchPath(s"t33_bands_$inv")
        val idx1 = shingleIndex(
          docs.where(pmod(col("doc_id"), lit(3)) =!= 2)).persist()
        idx1.write.mode("overwrite").parquet(idxPath)
        bandKeys(idx1).write.mode("overwrite").parquet(bandPath)
        idx1.unpersist()
        // ── the table changes through ITS OWN verbs: a MoR retention
        //    delete (v2), then the ingest wave + seeded exact copies
        //    (v3; seeds at +SeedOffset keep the judged J=1.0 pairs
        //    non-vacuous at every SF) ──
        s.sql(s"DELETE FROM $cat.t33docs WHERE doc_id % 5 = 0")
        meta.where(pmod(col("doc_id"), lit(3)) === 2)
          .unionByName(meta.where(col("doc_id") < NSeeds &&
              (pmod(col("doc_id"), lit(3)) === 2 ||
                pmod(col("doc_id"), lit(5)) =!= 0))
            .select((col("doc_id") + SeedOffset).as("doc_id"),
              col("lang"), col("n_chars")))
          .writeTo(s"$cat.t33docs").append()
        // ── MAINTENANCE: fold the LEDGER'S change feed, nothing else ──
        val tdir = new java.io.File(
          scratchPath(s"t33_catroot_$inv"), "t33docs").getPath
        val net = s.read.format("graft-ledger")
          .option("changesFrom", "1").load(tdir)
          .groupBy(col("doc_id"))
          .agg(sum(when(col("_change_type") === "insert", 1L)
            .otherwise(-1L)).as("net"))
          .persist() // ONE Changes scan feeds retraction + Δ-ingest
        val delKeys = broadcast(net.where(col("net") < 0).select(col("doc_id")))
        val insKeys = net.where(col("net") > 0).select(col("doc_id"))
        // Δ content fetch: feed keys → content store (seeded copies
        // resolve to their original's text; a content store is keyed
        // by the pre-seed id)
        val deltaDocs = docs.as("c")
          .join(broadcast(insKeys
              .withColumn("content_id",
                when(col("doc_id") >= SeedOffset,
                  col("doc_id") - SeedOffset).otherwise(col("doc_id")))
              .as("k")),
            col("c.doc_id") === col("k.content_id"))
          .select(col("k.doc_id").as("doc_id"), col("c.source"),
            col("c.text"))
        val addIdx = shingleIndex(deltaDocs).persist()
        val idx2 = s.read.parquet(idxPath)
          .join(delKeys, Seq("doc_id"), "left_anti")
          .unionByName(addIdx).persist()
        val bands2 = capBands(
          s.read.parquet(bandPath)
            .join(delKeys, Seq("doc_id"), "left_anti")
            .unionByName(bandKeys(addIdx)))
        nearDupPairsOf(idx2, bands2)
      },
      incrementalLshOracleSql),

    // ── t34: BM25 SCORER-STATE MAINTENANCE FROM THE CHANGE FEED — the
    //    retrieval-SCORING member of the CDF-maintenance family, and a
    //    strictly harder claim than t33's: BM25 scores of UNCHANGED
    //    documents move when the corpus changes (df, N and the total
    //    token mass all shift under the retraction legs), so the judged
    //    top-10 proves the maintained state feeds the scorer's DERIVED
    //    statistics correctly, not just that postings rows come and go.
    //    State = the two artifacts every retrieval deployment
    //    precomputes (the (doc, word, tf) postings and the per-doc
    //    length table); maintenance folds the ledger's feed — net < 0
    //    keys anti-join both artifacts, net > 0 keys are the ONLY docs
    //    tokenized (content via the Δ-bounded broadcast fetch) — and
    //    the probe is t30's verbatim inverted-index read: postings
    //    SEMI-FILTERED to the 3 query terms before any aggregation,
    //    df/totals re-derived from the maintained state, the
    //    integer-exact saturation arithmetic unchanged. Judged against
    //    the oracle's full rebuild over the final corpus (t30's SQL
    //    over the docs2 CTE). ──
    ("t34_bm25_cdf_maintenance",
      (s: SparkSession, dir: String) => {
        val inv = t33Invocation.incrementAndGet()
        val cat = s"graft_t34_$inv"
        GraftCatalog.register(s, cat, scratchPath(s"t34_catroot_$inv"))
        val docs = Tables(s, dir, "documents")
          .select(col("doc_id"), col("text"))
        val meta = Tables(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
        meta.where(pmod(col("doc_id"), lit(3)) =!= 2)
          .writeTo(s"$cat.t34docs").tableProperty("mor", "true").create()
        // ── FULL BUILD at v1: postings + doc-length state ──
        val postPath = scratchPath(s"t34_postings_$inv")
        val dlPath = scratchPath(s"t34_dl_$inv")
        val post1 = bm25Tokenize(
          docs.where(pmod(col("doc_id"), lit(3)) =!= 2)).persist()
        post1.write.mode("overwrite").parquet(postPath)
        post1.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
          .write.mode("overwrite").parquet(dlPath)
        post1.unpersist()
        // ── the corpus changes through the table's own verbs ──
        s.sql(s"DELETE FROM $cat.t34docs WHERE doc_id % 5 = 0")   // v2
        meta.where(pmod(col("doc_id"), lit(3)) === 2)
          .writeTo(s"$cat.t34docs").append()                      // v3
        // ── MAINTENANCE: fold the feed, tokenize ONLY the Δ ──
        val tdir = new java.io.File(
          scratchPath(s"t34_catroot_$inv"), "t34docs").getPath
        val net = s.read.format("graft-ledger")
          .option("changesFrom", "1").load(tdir)
          .groupBy(col("doc_id"))
          .agg(sum(when(col("_change_type") === "insert", 1L)
            .otherwise(-1L)).as("net"))
          .persist()
        val delKeys = broadcast(net.where(col("net") < 0).select(col("doc_id")))
        val insKeys = net.where(col("net") > 0).select(col("doc_id"))
        val deltaDocs = docs.as("c")
          .join(broadcast(insKeys.as("k")),
            col("c.doc_id") === col("k.doc_id"))
          .select(col("c.doc_id"), col("c.text"))
        val addPost = bm25Tokenize(deltaDocs).persist()
        // post2 stays UNPERSISTED so the probe's 3-term semi-filter
        // pushes through the union INTO the postings state scan (the
        // inverted-index read — cost is the postings of 3 terms, not
        // the maintained index); the filtered slice below is what
        // persists for its two consumers
        val post2 = s.read.parquet(postPath)
          .join(delKeys, Seq("doc_id"), "left_anti")
          .unionByName(addPost)
        val dl2 = s.read.parquet(dlPath)
          .join(delKeys, Seq("doc_id"), "left_anti")
          .unionByName(
            addPost.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl")))
          .persist()
        // ── t30's probe, read from the MAINTAINED state ──
        bm25ProbeOf(post2, dl2)
      },
      maintainedBm25OracleSql),

    // ── t36: EXACT-DEDUP STATE FROM THE CHANGE FEED — the simplest
    //    member of the CDC-maintenance family, kept judged because it
    //    is the one every pipeline actually deploys first: the per-doc
    //    digest fingerprint table maintained under the ledger's feed
    //    (retraction legs anti-join; ONLY Δ docs are hashed, content
    //    via the Δ-bounded broadcast fetch), probed by t05's duplicate
    //    groups. Seeded exact copies at +SeedOffset keep the judged
    //    n_copies = 2 groups non-vacuous at every SF; the oracle is
    //    the full re-fingerprint of the final corpus. With this row
    //    every dedup family the engine ships (exact, MinHash-LSH,
    //    SimHash/n-gram via their shared banded state, semantic) has
    //    an O(Δ)-maintained form or a documented recompute path. ──
    ("t36_exact_dedup_cdf",
      (s: SparkSession, dir: String) => {
        val inv = t33Invocation.incrementAndGet()
        val cat = s"graft_t36_$inv"
        GraftCatalog.register(s, cat, scratchPath(s"t36_catroot_$inv"))
        val docs = Tables(s, dir, "documents")
          .select(col("doc_id"), col("text"))
        val meta = Tables(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
        meta.where(pmod(col("doc_id"), lit(3)) =!= 2)
          .writeTo(s"$cat.t36docs").tableProperty("mor", "true").create()
        // ── FULL BUILD at v1: the per-doc fingerprint table ──
        def fingerprints(d: org.apache.spark.sql.DataFrame) = d
          .select(col("doc_id"), md5(col("text").cast("binary")).as("digest"))
        val fpPath = scratchPath(s"t36_fp_$inv")
        fingerprints(docs.where(pmod(col("doc_id"), lit(3)) =!= 2))
          .write.mode("overwrite").parquet(fpPath)
        s.sql(s"DELETE FROM $cat.t36docs WHERE doc_id % 5 = 0")   // v2
        meta.where(pmod(col("doc_id"), lit(3)) === 2)
          .unionByName(meta.where(col("doc_id") < NSeeds &&
              (pmod(col("doc_id"), lit(3)) === 2 ||
                pmod(col("doc_id"), lit(5)) =!= 0))
            .select((col("doc_id") + SeedOffset).as("doc_id"),
              col("lang"), col("n_chars")))
          .writeTo(s"$cat.t36docs").append()                      // v3
        // ── MAINTENANCE: fold the feed, hash ONLY the Δ ──
        val tdir = new java.io.File(
          scratchPath(s"t36_catroot_$inv"), "t36docs").getPath
        val net = s.read.format("graft-ledger")
          .option("changesFrom", "1").load(tdir)
          .groupBy(col("doc_id"))
          .agg(sum(when(col("_change_type") === "insert", 1L)
            .otherwise(-1L)).as("net"))
          .persist()
        val delKeys = broadcast(net.where(col("net") < 0).select(col("doc_id")))
        val insKeys = net.where(col("net") > 0).select(col("doc_id"))
        val deltaDocs = docs.as("c")
          .join(broadcast(insKeys
              .withColumn("content_id",
                when(col("doc_id") >= SeedOffset,
                  col("doc_id") - SeedOffset).otherwise(col("doc_id")))
              .as("k")),
            col("c.doc_id") === col("k.content_id"))
          .select(col("k.doc_id").as("doc_id"), col("c.text"))
        val fp2 = s.read.parquet(fpPath)
          .join(delKeys, Seq("doc_id"), "left_anti")
          .unionByName(fingerprints(deltaDocs))
        // ── t05's duplicate groups, read from the MAINTAINED state ──
        fp2.groupBy(col("digest"))
          .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("n_copies"))
          .orderBy(col("rep_id"))
      },
      s"""WITH docs2 AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE (doc_id % 3 <> 2 AND doc_id % 5 <> 0) OR doc_id % 3 = 2
         |  UNION ALL
         |  SELECT doc_id + $SeedOffset, text FROM documents
         |  WHERE doc_id < $NSeeds
         |    AND (doc_id % 3 = 2 OR doc_id % 5 <> 0))
         |SELECT md5(text) AS digest, min(doc_id) AS rep_id,
         |       CAST(count(*) AS BIGINT) AS n_copies
         |FROM docs2 GROUP BY 1 ORDER BY rep_id""".stripMargin),

    ("t30_bm25_retrieval",
      (s: SparkSession, dir: String) => {
        val qTerms = Seq("scan", "join", "merge")
        val tok = Tables(s, dir, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        val dl = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
        val totals = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("t"))
        val tf = tok.where(col("word").isin(qTerms: _*))
          .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
        tf.join(broadcast(dfreq), "word")
          .join(dl, "doc_id")
          .crossJoin(broadcast(totals))
          .withColumn("term_us", round(
            log((lit(2) * col("n") + 2).cast("double")
              / (lit(2) * col("df") + 1).cast("double"))
            * (lit(44) * col("tf") * col("t")).cast("double")
            / (lit(20) * col("tf") * col("t") + lit(6) * col("t")
               + lit(18) * col("dl") * col("n")).cast("double")
            * 1000000).cast("long"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_terms"), sum(col("term_us")).as("score_us"))
          .orderBy(col("score_us").desc, col("doc_id")).limit(10)
          .select(col("doc_id"), col("n_terms"), col("score_us"))
      },
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS t FROM dl),
        |tf AS (
        |  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf FROM tok
        |  WHERE word IN ('scan', 'join', 'merge') GROUP BY 1, 2),
        |dfq AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT tf.doc_id,
        |         CAST(round(ln(CAST(2 * tot.n + 2 AS DOUBLE) / CAST(2 * dfq.df + 1 AS DOUBLE))
        |           * CAST(44 * tf.tf * tot.t AS DOUBLE)
        |           / CAST(20 * tf.tf * tot.t + 6 * tot.t + 18 * dl.dl * tot.n AS DOUBLE)
        |           * 1000000, 0) AS BIGINT) AS term_us
        |  FROM tf JOIN dfq USING (word) JOIN dl USING (doc_id), tot)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
        |       CAST(sum(term_us) AS BIGINT) AS score_us
        |FROM scored GROUP BY doc_id
        |ORDER BY score_us DESC, doc_id LIMIT 10""".stripMargin),

    // ── TF-IDF: top-3 terms per doc. All from ONE (doc, word, tf)
    //    relation: df re-aggregates it per word, N is a broadcast scalar;
    //    idf = ln((N+1)/(df+1)), score rounded past the ~1-ulp libm/JVM
    //    log divergence ──
    ("t09_tfidf",
      (s: SparkSession, dir: String) => {
        val tf = Tables(s, dir, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
          .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
          .persist()
        val df = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
        val n = Tables(s, dir, "documents").agg(count(lit(1)).as("n"))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("word").asc)
        tf.join(df, "word").crossJoin(broadcast(n))
          .withColumn("score", round(col("tf") *
            log((col("n") + 1).cast("double") / (col("df") + 1).cast("double")), 6))
          .withColumn("rn", row_number().over(w))
          .where(col("rn") === 1 || col("rn") === 2 || col("rn") === 3)
          .select(col("doc_id"), col("rn").cast("long").as("rn"),
            col("word"), col("score"))
          .orderBy(col("doc_id"), col("rn"))
      },
      """WITH tf AS (
        |  SELECT doc_id, word, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
        |  GROUP BY 1, 2),
        |df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.word,
        |         round(tf.tf * ln(CAST(n.n + 1 AS DOUBLE) / CAST(df.df + 1 AS DOUBLE)), 6) AS score
        |  FROM tf JOIN df USING (word), n),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |            ORDER BY score DESC, word ASC) AS rn
        |  FROM scored)
        |SELECT doc_id, CAST(rn AS BIGINT) AS rn, word, score
        |FROM ranked WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin),

    // ── blocked exact n-gram Jaccard (the non-approximate baseline the
    //    MinHash path is judged against; blocking bounds the pair count) ──
    ("t08_ngram_jaccard",
      (s: SparkSession, dir: String) => {
        // Inverted-index form: self-join the long-form shingle relation on
        // (shingle, source) — parallelism scales with shingle cardinality,
        // not with the number of blocks, and only pairs sharing >=1
        // shingle are ever materialized (a zero-overlap pair has
        // J=0 < 0.2, so the output is identical to the all-pairs
        // intersect form the oracle runs). |A∩B| = the per-pair match
        // count; |A|,|B| join back from the doc-size table
        // (auto-broadcast under threshold). Input is the SEEDED corpus
        // ([[seededDocs]]) so the judged pair set is non-empty by
        // construction. The [[DfCap]] window rides the same (h, source)
        // shuffle the self-join needs; nothing clears it at test SFs.
        val wH = Window.partitionBy(col("h"), col("source"))
        val idx = shingleIndex(seededDocs(s, dir))
          .withColumn("df", count(lit(1)).over(wH))
          .where(col("df") <= DfCap).drop("df")
          .persist()
        // NOT [[interCounts]]: here the blocked self-join's output rows
        // ARE the intersection (one row per shared (h, source)), so the
        // groupBy count is free — an array pass would re-derive what the
        // join already enumerated (r17: measured slower, reverted).
        val inter = idx.as("a").join(idx.as("b"),
            col("a.h") === col("b.h") && col("a.source") === col("b.source")
              && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("ninter"))
        val sizes = idx.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        inter
          .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
          .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
          .select(col("doc_a"), col("doc_b"),
            round(col("ninter").cast("double") /
              (col("na") + col("nb") - col("ninter")).cast("double"), 6).as("jac"))
          .where(col("jac") >= 0.2)
          .orderBy(col("doc_a"), col("doc_b"))
      },
      // inverted-index oracle form mirroring the Spark computation
      // EXACTLY, including the DfCap guard: capped shingles must drop
      // from the index on BOTH sides (they feed ninter and the doc
      // sizes), or the two engines diverge at a scale where the cap
      // binds
      s"""WITH $seededDocsSql,
         |${hashedShinglesSql("seeded")},
         |ex AS (SELECT doc_id, source, unnest(s) AS h FROM sh),
         |kept AS (
         |  SELECT doc_id, source, h FROM ex
         |  QUALIFY count(*) OVER (PARTITION BY h, source) <= $DfCap),
         |sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ninter
         |  FROM kept a JOIN kept b
         |    ON a.h = b.h AND a.source = b.source AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, jac FROM (
         |  SELECT doc_a, doc_b,
         |         round(CAST(ninter AS DOUBLE)
         |               / CAST(na.n + nb.n - ninter AS DOUBLE), 6) AS jac
         |  FROM inter
         |  JOIN sizes na ON inter.doc_a = na.doc_id
         |  JOIN sizes nb ON inter.doc_b = nb.doc_id)
         |WHERE jac >= 0.2
         |ORDER BY doc_a, doc_b""".stripMargin),

    // ── j14: set-similarity JOIN with prefix filtering — the join-shaped
    //    twin of t08's pairwise n-gram Jaccard and the "fuzzy join at
    //    scale" member beyond j13's edit-distance-1 blocking: the
    //    Vernica-et-al. MapReduce shape over the SHINGLE-hash sets (word
    //    sets are degenerate on this corpus: a 31-word vocabulary makes
    //    nearly every doc pair 0.6-similar, while shingle sets separate
    //    — one natural pair at ≈0.97, the rest ≤0.03). Each doc's set
    //    contributes only its ℓ = ⌊(1−τ)·|s|⌋+1 RAREST elements (global
    //    (df, h) order, evaluated per doc by a doc-partitioned window)
    //    as block keys, so candidate generation is an EQUI-join on the
    //    prefix element — provably complete at J ≥ τ (sets with
    //    Jaccard ≥ τ must overlap within those prefixes; the spec pins
    //    completeness against brute force), and rarest-first ordering is
    //    itself the hot-key defense: corpus-wide shingles never enter a
    //    prefix, so no block fans out quadratically (t08's DfCap solves
    //    the same problem by dropping; prefix filtering solves it
    //    without losing pairs). Candidates verify EXACTLY —
    //    intersection counts via two equi-joins back through the
    //    element index, then the τ = 3/5 test in pure BIGINTs
    //    (8·|A∩B| ≥ 3·(|A|+|B|)), never a float Jaccard. df is
    //    dictionary-sized (broadcastable); the window rides one doc_id
    //    exchange. Input is the seeded corpus so the judged pair set is
    //    non-empty by construction. ──
    ("j14_set_similarity_join",
      (s: SparkSession, dir: String) => {
        val idx = shingleIndex(seededDocs(s, dir))
          .select(col("doc_id"), col("h")) // global join — no source blocks
          .persist()
        val dfreq = idx.groupBy(col("h")).agg(count(lit(1)).as("df"))
        // rn and sz ride ONE doc_id exchange (same partitioning, two window
        // operators), and sz travels with each prefix row so the pair sizes
        // arrive at the verify filter via the candidate keys — no separate
        // sizes aggregate, no post-verify size joins (sz is functionally
        // dependent on doc_id, so widening the grouping key is free)
        val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("h"))
        val prefix = idx.join(dfreq, "h")
          .withColumn("rn", row_number().over(wDoc))
          .withColumn("sz", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
          .where(col("rn") <= floor(col("sz") * 2 / 5) + 1)
          .select(col("doc_id"), col("h"))
        val cand = prefix.as("a").join(prefix.as("b"),
            col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .distinct()
        // verify via [[interCounts]] arrays: na/nb ARE the per-doc index
        // sizes (one row per distinct (doc, h)), so the sz columns no
        // longer ride through the candidate distinct
        interCounts(cand, idx)
          .where(col("ninter") * 8 >= (col("na") + col("nb")) * 3)
          .select(col("doc_a"), col("doc_b"), col("ninter").as("n_int"),
            col("na").as("sz_a"), col("nb").as("sz_b"))
          .orderBy(col("doc_a"), col("doc_b"))
      },
      s"""WITH $seededDocsSql,
         |${hashedShinglesSql("seeded")},
         |idx AS (SELECT doc_id, unnest(s) AS h FROM sh),
         |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM idx GROUP BY 1),
         |dfreq AS (SELECT h, count(*) AS df FROM idx GROUP BY 1),
         |pfx AS (
         |  SELECT doc_id, h FROM (
         |    SELECT t.doc_id, t.h, s.sz,
         |           row_number() OVER (PARTITION BY t.doc_id
         |                              ORDER BY d.df, t.h) AS rn
         |    FROM idx t JOIN dfreq d USING (h) JOIN sizes s USING (doc_id))
         |  WHERE rn <= sz * 2 // 5 + 1),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM pfx a JOIN pfx b ON a.h = b.h AND a.doc_id < b.doc_id),
         |inter AS (
         |  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS n_int
         |  FROM cand c
         |  JOIN idx ta ON ta.doc_id = c.doc_a
         |  JOIN idx tb ON tb.doc_id = c.doc_b AND tb.h = ta.h
         |  GROUP BY 1, 2)
         |SELECT i.doc_a, i.doc_b, i.n_int, sa.sz AS sz_a, sb.sz AS sz_b
         |FROM inter i
         |JOIN sizes sa ON sa.doc_id = i.doc_a
         |JOIN sizes sb ON sb.doc_id = i.doc_b
         |WHERE i.n_int * 8 >= (sa.sz + sb.sz) * 3
         |ORDER BY doc_a, doc_b""".stripMargin),

    // ── t25: the near-dedup family's judged quality row — the
    //    v10/v20-for-ANN discipline applied to MinHash-LSH: recall of
    //    the banded candidate generator against the EXACT Jaccard pair
    //    set (the t08 inverted-index chain at the t06 threshold, same
    //    seeded corpus, same capped index), plus candidate precision
    //    (what fraction of generated candidates are true duplicates —
    //    the "wasted confirm work" a dedup pipeline tuner actually
    //    budgets when trading bands × rows against recall). One
    //    relational query, so the 100 TB evaluation runs where the
    //    dedup runs; all three counts reduce to broadcast single-row
    //    frames. The exact side is source-blocked and df-capped exactly
    //    like t08 — at judged SFs neither guard binds, so recall is
    //    measured against the full truth set. ──
    ("t25_dedup_recall_eval",
      (s: SparkSession, dir: String) => {
        val wH = Window.partitionBy(col("h"), col("source"))
        val idxAll = shingleIndex(seededDocs(s, dir)).persist()
        val kept = idxAll.withColumn("df", count(lit(1)).over(wH))
          .where(col("df") <= DfCap).drop("df").persist()
        // ground truth: the blocked self-join's rows ARE the intersection
        // (see t08) — count them directly, no array pass
        val inter = kept.as("a").join(kept.as("b"),
            col("a.h") === col("b.h") && col("a.source") === col("b.source")
              && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("ninter"))
        val sizes = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        val exact = inter
          .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
          .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
          .where(round(col("ninter").cast("double") /
            (col("na") + col("nb") - col("ninter")).cast("double"), 6) >= 0.3)
          .select(col("doc_a"), col("doc_b"))
          .persist()
        val cand = lshCandidates(lshBands(idxAll)).persist()
        val hit = exact.join(cand, Seq("doc_a", "doc_b"), "left_semi")
        exact.agg(count(lit(1)).as("n_exact"))
          .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_cand"))))
          .crossJoin(broadcast(hit.agg(count(lit(1)).as("n_hit"))))
          .select(col("n_exact"), col("n_cand"), col("n_hit"),
            round(col("n_hit").cast("double") / col("n_exact").cast("double"), 4)
              .as("recall"),
            round(col("n_hit").cast("double") / col("n_cand").cast("double"), 4)
              .as("cand_precision"))
      },
      s"""WITH $seededDocsSql,
         |${hashedShinglesSql("seeded")},
         |sig AS (
         |  SELECT doc_id, s,
         |         $sigSqlCols
         |  FROM sh),
         |$cappedBandsSql,
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
         |ex AS (SELECT doc_id, source, unnest(s) AS h FROM sh),
         |kept AS (
         |  SELECT doc_id, source, h FROM ex
         |  QUALIFY count(*) OVER (PARTITION BY h, source) <= $DfCap),
         |sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ninter
         |  FROM kept a JOIN kept b
         |    ON a.h = b.h AND a.source = b.source AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |exact AS (
         |  SELECT doc_a, doc_b FROM (
         |    SELECT doc_a, doc_b,
         |           round(CAST(ninter AS DOUBLE)
         |                 / CAST(na.n + nb.n - ninter AS DOUBLE), 6) AS jac
         |    FROM inter
         |    JOIN sizes na ON inter.doc_a = na.doc_id
         |    JOIN sizes nb ON inter.doc_b = nb.doc_id)
         |  WHERE jac >= 0.3),
         |hit AS (
         |  SELECT e.doc_a, e.doc_b FROM exact e WHERE EXISTS (
         |    SELECT 1 FROM cand c
         |    WHERE c.doc_a = e.doc_a AND c.doc_b = e.doc_b)),
         |agg AS (
         |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM exact) AS n_exact,
         |         (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_cand,
         |         (SELECT CAST(count(*) AS BIGINT) FROM hit) AS n_hit)
         |SELECT n_exact, n_cand, n_hit,
         |       round(CAST(n_hit AS DOUBLE) / CAST(n_exact AS DOUBLE), 4) AS recall,
         |       round(CAST(n_hit AS DOUBLE) / CAST(n_cand AS DOUBLE), 4) AS cand_precision
         |FROM agg""".stripMargin),

    // ── dup-pair CLUSTERING: connected components over the LSH candidate
    //    graph — the step after pair generation that a dedup pipeline
    //    actually ships: every doc gets a cluster id (the component's min
    //    doc_id) and exactly one representative per cluster survives.
    //    Distributed min-label propagation iterated to fixpoint: each
    //    round is one join + one agg, labels converge in ≤ diameter
    //    rounds (band collisions make near-clique components, so a
    //    handful). The driver loop triggers distributed jobs and moves no
    //    rows; at 100 TB the same loop runs with the per-round frames
    //    checkpointed, or graduates to alternating small-star/large-star
    //    (Kiveris et al.) — same join-agg primitive, fewer rounds. The
    //    oracle is a recursive-CTE transitive closure over the identical
    //    edge set. Seeded corpus, so components exist at every SF. ──
    ("t10_dup_clusters",
      (s: SparkSession, dir: String) =>
        dupLabels(s, dir, "t10")
          .select(col("doc_id"), col("cluster"),
            (col("doc_id") === col("cluster")).as("is_rep"))
          .orderBy(col("doc_id")),
      dupClustersOracleSql),

    // ── t27: dedup APPLY — the step that turns t10's clusters into the
    //    deduplicated corpus (find → cluster → APPLY): every doc either
    //    keeps (it is its cluster's min-id representative, or it touches
    //    no duplicate edge at all) or is removed. One left join of the
    //    corpus against the converged label frame plus one per-source
    //    rollup — the kept/removed report a dedup pipeline publishes,
    //    judged against the same recursive-CTE cluster oracle so the
    //    apply semantics are pinned to the judged clustering, not to a
    //    re-derivation. ──
    ("t27_dedup_apply",
      (s: SparkSession, dir: String) => {
        val labels = dupLabels(s, dir, "t27")
        seededDocs(s, dir).select(col("doc_id"), col("source"))
          .join(labels.select(col("doc_id"), col("cluster")), Seq("doc_id"), "left")
          .select(col("source"),
            (col("cluster").isNull || col("cluster") === col("doc_id")).as("keep"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("keep"), 0L).otherwise(1L)).as("n_removed"))
          .orderBy(col("source"))
      },
      s"""$dupClustersCtes,
         |tagged AS (
         |  SELECT d.doc_id, d.source,
         |         (l.cluster IS NULL OR l.cluster = d.doc_id) AS keep
         |  FROM seeded d LEFT JOIN labels l ON l.doc_id = d.doc_id)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |       CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_removed
         |FROM tagged GROUP BY 1 ORDER BY 1""".stripMargin),


    // ── dup-pair clustering, small-star/large-star form: the documented
    //    graduation of t10's min-label propagation. Label propagation
    //    converges in O(diameter) rounds; the alternating star algorithm
    //    (Kiveris et al., "Connected Components in MapReduce and
    //    Beyond", SOCC 2014) REWIRES the graph each round — large-star
    //    hangs every larger neighbor of u onto u's minimum neighbor,
    //    small-star re-points the smaller neighbors — so components
    //    collapse toward their minimum in O(log n) rounds regardless of
    //    diameter. Each half-round is one agg + one join + one distinct
    //    over the CURRENT edge set (which only shrinks toward stars),
    //    not over per-node labels; the same recursive-CTE oracle judges
    //    both forms, pinning that the rewiring is semantics-preserving. ──
    ("t10b_dup_clusters_star",
      (s: SparkSession, dir: String) => {
        val bands = lshBands(
          shingleIndex(seededDocs(s, dir)).drop("source")).persist()
        // canonical undirected edges (u, v) with u < v throughout: both
        // star passes emit (min-of-group, other), so canon holds per round
        val stars = Fixpoint.converge("t10b", lshCandidates(bands)
            .select(col("doc_a").as("u"), col("doc_b").as("v"))) { edges =>
          // large-star: from each node, all LARGER neighbors re-attach to
          // its minimum (neighbor or self)
          val sym = edges.select(explode(array(
              struct(col("u").as("src"), col("v").as("dst")),
              struct(col("v").as("src"), col("u").as("dst")))).as("e"))
            .select(col("e.src"), col("e.dst"))
          val mL = sym.groupBy(col("src")).agg(min(col("dst")).as("mn"))
            .select(col("src"), least(col("src"), col("mn")).as("m"))
          val large = sym.where(col("dst") > col("src"))
            .join(mL, "src")
            .select(col("m").as("u"), col("dst").as("v")) // m < src < dst
            .where(col("u") =!= col("v")).distinct()
          // small-star over the rewired edges: each node's ≤-neighbors
          // (and itself) re-attach to the minimum of that set. Viewing
          // every undirected edge from its LARGER endpoint covers each
          // edge exactly once.
          val minor = large.select(col("v").as("src"), col("u").as("dst"))
          val mS = minor.groupBy(col("src")).agg(min(col("dst")).as("m"))
          val small = minor.join(mS, "src")
            .select(col("m").as("u"), col("dst").as("v")) // m ≤ dst < src
            .where(col("u") =!= col("v"))
            .unionByName(mS.select(col("m").as("u"), col("src").as("v")))
            .distinct()
          // fixpoint when the canonical edge set is unchanged: both sets
          // are distinct canonical pairs, so "same count and no novel
          // edge" is set equality, and a novel edge is a left-join miss
          small.alias("s")
            .join(edges.alias("e"), expr("s.u = e.u AND s.v = e.v"), "left")
            .select(col("s.u"), col("s.v"), col("e.u").isNull.as("moved"))
        }
        stars.select(col("v").as("doc_id"), col("u").as("cluster"))
          .unionByName(stars.select(col("u").as("doc_id"), col("u").as("cluster")))
          .distinct()
          .select(col("doc_id"), col("cluster"),
            (col("doc_id") === col("cluster")).as("is_rep"))
          .orderBy(col("doc_id"))
      },
      dupClustersOracleSql),

    // ── parity proof for the native fingerprint kernel (the v06
    //    pattern): `fingerprint_words` — one codegen'd JVM pass doing
    //    split + md5-hash + rolling fold — against the interpreted
    //    composed HOF form it replaces (t04's expression), both judged by
    //    ONE DuckDB oracle. Hash-green pins bit-identical arithmetic and
    //    licenses the native form for the per-document hot loop. ──
    ("t11_native_fingerprint_parity",
      (s: SparkSession, dir: String) => {
        val words = split(col("text"), " ")
        val composed = aggregate(
          transform(words, w => pmod(portableHash(w), lit(1000L))),
          lit(0L), (acc, h) => pmod(acc * 31 + h, lit(2147483647L)))
        Tables(s, dir, "documents")
          .select(col("doc_id"),
            call_function("fingerprint_words", col("text")).as("fp_native"),
            composed.as("fp_hof"))
          .orderBy(col("doc_id"))
      },
      s"""SELECT doc_id,
         |  list_reduce(
         |    list_prepend(CAST(0 AS BIGINT),
         |      list_transform(string_split(text, ' '),
         |                     w -> ${portableHashSql("w")} % 1000)),
         |    (acc, h) -> (acc * 31 + h) % 2147483647) AS fp_native,
         |  list_reduce(
         |    list_prepend(CAST(0 AS BIGINT),
         |      list_transform(string_split(text, ' '),
         |                     w -> ${portableHashSql("w")} % 1000)),
         |    (acc, h) -> (acc * 31 + h) % 2147483647) AS fp_hof
         |FROM documents ORDER BY doc_id""".stripMargin),

    // ── text cleaning / normalization: lowercase → strip non-alnum →
    //    collapse whitespace — the standard pre-tokenization pass of a
    //    training-data pipeline, entirely in codegen'd built-ins; the
    //    digest judges the exact cleaned string, not just its shape ──
    ("t12_clean_text",
      (s: SparkSession, dir: String) => {
        val cleaned = trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
        Tables(s, dir, "documents")
          .select(col("doc_id"),
            length(cleaned).cast("long").as("clean_len"),
            size(split(cleaned, " ")).cast("long").as("clean_words"),
            md5(cleaned.cast("binary")).as("clean_digest"))
          .orderBy(col("doc_id"))
      },
      """SELECT doc_id,
        |  CAST(length(c) AS BIGINT) AS clean_len,
        |  CAST(len(string_split(c, ' ')) AS BIGINT) AS clean_words,
        |  md5(c) AS clean_digest
        |FROM (
        |  SELECT doc_id,
        |         trim(regexp_replace(regexp_replace(lower(text),
        |           '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS c
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin),

    // ── Sequence packing: assign documents to fixed-token-capacity
    //    training bins (next-fit by start offset: a doc lands in the bin
    //    its running-sum offset starts in; oversize docs overflow their
    //    bin, shifting later starts — deterministic given the doc_id
    //    order). Packs independently inside each (lang, source) group, so
    //    the window parallelizes across groups; one pathologically large
    //    group would need the two-pass range-partition + per-partition
    //    offset form of the same cumsum ──
    ("t13_pack_sequences",
      (s: SparkSession, dir: String) => {
        val w = Window.partitionBy(col("lang"), col("source")).orderBy(col("doc_id"))
        Tables(s, dir, "documents")
          .select(col("lang"), col("source"), col("doc_id"),
            size(regexp_extract_all(col("text"),
              lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast("long").as("n_tok"))
          .withColumn("bin",
            floor((sum(col("n_tok")).over(w) - col("n_tok")) / lit(512.0)).cast("long"))
          .orderBy(col("lang"), col("source"), col("doc_id"))
      },
      """SELECT lang, source, doc_id, n_tok,
        |  CAST(floor((cum - n_tok) / 512.0) AS BIGINT) AS bin
        |FROM (
        |  SELECT lang, source, doc_id,
        |    CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_tok,
        |    sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')))
        |      OVER (PARTITION BY lang, source ORDER BY doc_id) AS cum
        |  FROM documents)
        |ORDER BY lang, source, doc_id""".stripMargin),

    // ── Sequence packing, single-giant-group form: the GLOBAL running
    //    sum t13's per-(lang, source) window cannot express without
    //    serializing the whole corpus into one task (an unpartitioned
    //    window is a single-partition sort — the documented t13 scale
    //    hazard). Two-pass range-partition cumsum instead: (1) range-
    //    repartition by doc_id and cumsum WITHIN each partition (window
    //    keyed by spark_partition_id — 32-way parallel, each task sees
    //    only its slice); (2) per-partition totals (32 rows) get a tiny
    //    driver-free prefix-sum window and broadcast-join back as
    //    offsets; local cumsum + partition offset == the global cumsum
    //    for ANY partition boundaries, so the result is deterministic
    //    and identical to the oracle's one-window form while every pass
    //    stays n/32-per-task. At 100 TB the same shape holds: the only
    //    serial structure is one row per partition. ──
    ("t13b_pack_global",
      (s: SparkSession, dir: String) => {
        val toks = Tables(s, dir, "documents")
          .select(col("doc_id"),
            size(regexp_extract_all(col("text"),
              lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast("long").as("n_tok"))
        val parted = toks.repartitionByRange(32, col("doc_id"))
          .withColumn("pid", spark_partition_id())
        val wLocal = Window.partitionBy(col("pid")).orderBy(col("doc_id"))
        val local = parted.withColumn("lcum", sum(col("n_tok")).over(wLocal))
        // pass 2: one row per partition; the cumsum window over 32 rows
        // is trivially single-task (that IS the two-pass trick: the
        // serial part shrinks from n rows to #partitions rows)
        val wOff = Window.orderBy(col("pid"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val offsets = local.groupBy(col("pid")).agg(sum(col("n_tok")).as("psum"))
          .withColumn("off", coalesce(sum(col("psum")).over(wOff), lit(0L)))
          .select(col("pid"), col("off"))
        local.join(broadcast(offsets), "pid")
          .select(col("doc_id"), col("n_tok"),
            floor((col("off") + col("lcum") - col("n_tok")) / lit(512.0))
              .cast("long").as("bin"))
          .orderBy(col("doc_id"))
      },
      """SELECT doc_id, n_tok,
        |  CAST(floor((cum - n_tok) / 512.0) AS BIGINT) AS bin
        |FROM (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_tok,
        |    sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')))
        |      OVER (ORDER BY doc_id) AS cum
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin),

    // ── Repetition-based quality signals (the Gopher-rule family):
    //    duplicate-word fraction and top-bigram mass per document. Two
    //    hash aggregations keyed by doc_id (words, then bigrams via one
    //    lead over the in-doc position window) joined back on doc_id —
    //    per-doc work only, no cross-document state, so the operator is
    //    embarrassingly parallel at any corpus size. ──
    ("t14_repetition_quality",
      (s: SparkSession, dir: String) => {
        val words = Tables(s, dir, "documents")
          .select(col("doc_id"),
            posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
        val wordStats = words.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_words"),
            countDistinct(col("w")).as("n_distinct"))
        val wPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        val bigramStats = words
          .withColumn("w1", lead(col("w"), 1).over(wPos))
          .where(col("w1").isNotNull)
          .groupBy(col("doc_id"), concat_ws(" ", col("w"), col("w1")).as("bg"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id"))
          .agg(max(col("c")).as("top_bg"), sum(col("c")).as("n_bg"))
        wordStats.join(bigramStats, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_words"),
            round((col("n_words") - col("n_distinct")).cast("double")
              / col("n_words").cast("double"), 6).as("dup_word_frac"),
            coalesce(round(col("top_bg").cast("double")
              / col("n_bg").cast("double"), 6), lit(0.0)).as("top_bigram_frac"))
          .orderBy(col("doc_id"))
      },
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |ws AS (
        |  SELECT doc_id,
        |    CAST(len(ws) AS BIGINT) AS n_words,
        |    CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct
        |  FROM w),
        |bg AS (
        |  SELECT doc_id, unnest(list_transform(
        |           generate_series(1, len(ws) - 1),
        |           i -> ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT) + 1])) AS b
        |  FROM w),
        |bgc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
        |bgs AS (SELECT doc_id, max(c) AS top_bg, sum(c) AS n_bg FROM bgc GROUP BY 1)
        |SELECT ws.doc_id, ws.n_words,
        |  round(CAST(ws.n_words - ws.n_distinct AS DOUBLE)
        |        / CAST(ws.n_words AS DOUBLE), 6) AS dup_word_frac,
        |  coalesce(round(CAST(bgs.top_bg AS DOUBLE)
        |        / CAST(bgs.n_bg AS DOUBLE), 6), 0.0) AS top_bigram_frac
        |FROM ws LEFT JOIN bgs ON ws.doc_id = bgs.doc_id
        |ORDER BY ws.doc_id""".stripMargin),

    // ── PII scrubbing: regex redaction of emails/phones, the standard
    //    pre-release pass of a training-data pipeline. The synthetic
    //    corpus contains no PII, so (the t06 seeding idiom) every 5th doc
    //    gets a deterministic contact suffix injected first — the judged
    //    output proves the patterns hit exactly the injected tokens and
    //    nothing else. Pure per-row regexp_replace inside codegen;
    //    patterns kept to the RE2 ∩ java.util.regex common dialect. ──
    ("t15_pii_scrub",
      (s: SparkSession, dir: String) => {
        val emailRe = "[a-z0-9._]+@[a-z0-9.]+"
        val phoneRe = "\\+1-555-[0-9]{4}"
        val injected = when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" contact u"), col("doc_id").cast("string"),
            lit("@example.com or +1-555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(col("text"))
        val scrubbed = regexp_replace(
          regexp_replace(injected, emailRe, "<EMAIL>"), phoneRe, "<PHONE>")
        Tables(s, dir, "documents")
          .select(col("doc_id"),
            size(regexp_extract_all(injected, lit(emailRe), lit(0)))
              .cast("long").as("n_emails"),
            size(regexp_extract_all(injected, lit(phoneRe), lit(0)))
              .cast("long").as("n_phones"),
            length(scrubbed).cast("long").as("scrub_len"),
            md5(scrubbed.cast("binary")).as("scrub_digest"))
          .orderBy(col("doc_id"))
      },
      """WITH inj AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0
        |         THEN text || ' contact u' || doc_id || '@example.com or +1-555-'
        |              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |         ELSE text END AS t
        |  FROM documents),
        |scr AS (
        |  SELECT doc_id, t,
        |    regexp_replace(regexp_replace(t, '[a-z0-9._]+@[a-z0-9.]+', '<EMAIL>', 'g'),
        |      '\+1-555-[0-9]{4}', '<PHONE>', 'g') AS c
        |  FROM inj)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, '[a-z0-9._]+@[a-z0-9.]+')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(t, '\+1-555-[0-9]{4}')) AS BIGINT) AS n_phones,
        |  CAST(length(c) AS BIGINT) AS scrub_len,
        |  md5(c) AS scrub_digest
        |FROM scr ORDER BY doc_id""".stripMargin),

    // ── t18: sub-document exact dedup (the C4 rule — drop every repeated
    //    LINE corpus-wide, keeping only its first occurrence, then rebuild
    //    each document from its surviving pieces). This corpus has no
    //    newlines, so fixed 10-word spans stand in for lines; the operator
    //    is boundary-agnostic (swap the span generator for split-on-'\n'
    //    and nothing else changes). Shape, built for 100 TB:
    //    * spans are emitted by slicing each doc's own word array — one
    //      narrow projection, no self-join;
    //    * "first occurrence" is min(struct(doc_id, span_idx)) GROUPED BY
    //      span — an aggregation with map-side partial combine, NOT a
    //      row_number window, so a pathologically hot span (boilerplate
    //      repeated millions of times) collapses to one row per map task
    //      before the shuffle instead of landing on one reducer;
    //    * rebuild groups by doc_id — a group is one document, bounded.
    //    The twins make every seed doc's spans corpus-duplicates (their
    //    rebuilt text is empty), pinning non-vacuity at every SF; the
    //    generator's designed near-dups exercise the partial-keep path. ──
    ("t18_line_dedup",
      (s: SparkSession, dir: String) => {
        val docs = seededDocs(s, dir)
          .select(col("doc_id"), split(col("text"), " ").as("ws"))
        val sp = docs.select(col("doc_id"),
          posexplode(transform(
            sequence(lit(0L), ceil(size(col("ws")).cast("double") / 10.0).cast("long") - 1),
            i => array_join(slice(col("ws"), (i * 10 + 1).cast("int"), lit(10)), " ")))
            .as(Seq("span_idx", "span")))
        val kept = sp.groupBy(col("span"))
          .agg(min(struct(col("doc_id"), col("span_idx"))).as("w"))
          .select(col("w.doc_id").as("doc_id"), col("w.span_idx").as("span_idx"),
            col("span"))
        val rebuilt = kept.groupBy(col("doc_id"))
          .agg(
            array_join(
              transform(array_sort(collect_list(struct(col("span_idx"), col("span")))),
                x => x.getField("span")), " ").as("kept_text"),
            count(lit(1)).as("n_kept"))
        docs
          .select(col("doc_id"),
            ceil(size(col("ws")).cast("double") / 10.0).cast("long").as("n_tot"))
          .join(rebuilt, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("kept_text"), lit("")).as("kept_text"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"),
            col("n_tot"))
          .orderBy(col("doc_id"))
      },
      s"""WITH $seededDocsSql,
         |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM seeded),
         |sp AS (
         |  SELECT doc_id, i AS span_idx,
         |         array_to_string(ws[(CAST(i AS INT)*10+1):(CAST(i AS INT)*10+10)], ' ') AS span
         |  FROM w, LATERAL (SELECT unnest(generate_series(
         |    0, CAST(ceil(len(ws)/10.0) AS BIGINT) - 1)) AS i)),
         |kept AS (
         |  SELECT doc_id, span_idx, span FROM (
         |    SELECT *, row_number() OVER (PARTITION BY span
         |                                 ORDER BY doc_id, span_idx) AS rn
         |    FROM sp) WHERE rn = 1),
         |rebuilt AS (
         |  SELECT doc_id, string_agg(span, ' ' ORDER BY span_idx) AS kept_text,
         |         CAST(count(*) AS BIGINT) AS n_kept
         |  FROM kept GROUP BY 1)
         |SELECT w.doc_id, coalesce(r.kept_text, '') AS kept_text,
         |       coalesce(r.n_kept, 0) AS n_kept,
         |       CAST(ceil(len(w.ws)/10.0) AS BIGINT) AS n_tot
         |FROM w LEFT JOIN rebuilt r USING (doc_id)
         |ORDER BY w.doc_id""".stripMargin),

    // ── t29: variable-length duplicated-substring detection — the
    //    Lee et al. 2022 ("Deduplicating Training Data Makes Language
    //    Models Better") longest-duplicated-substring shape, judged as
    //    a relational approximation: a suffix array finds duplicated
    //    substrings of ANY length; this lattice finds them at lengths
    //    {10, 20, 40} words on a 10-word start grid, then keeps only
    //    the MAXIMAL hits (a duplicated span is suppressed when a
    //    longer duplicated span of the same document contains it —
    //    span-length precedence, pinned in Round10OpsSpec). Built for
    //    100 TB like t18: spans slice each doc's own word array (one
    //    projection, no self-join); "duplicated corpus-wide" is a
    //    (len, span) hash-agg with map-side combine, filtered to
    //    multiplicity ≥ 2 BEFORE the location-attach equi-join (the
    //    rejoined side carries only actual duplicates); containment is
    //    NOT a theta-join — on the grid a span at start s has ≤ 6
    //    possible covering starts, so suppression explodes those
    //    candidates and resolves them with one semi + one anti
    //    equi-join. Never all-pairs, never a window over span text.
    //    The seeded twins make every full span of the seed docs
    //    duplicated at every level (non-vacuous at every SF); the
    //    generator's partial near-dups are what survive at short
    //    lengths (4 maximal 10-word hits vs 311 raw at sf0.01 — the
    //    suppression does real work). ──
    ("t29_substring_dedup",
      (s: SparkSession, dir: String) => {
        val docs = seededDocs(s, dir)
          .select(col("doc_id"), split(col("text"), " ").as("ws"))
        val wl = docs
          .select(col("doc_id"), col("ws"),
            explode(array(lit(10), lit(20), lit(40))).as("len_w"))
          .where(size(col("ws")) >= col("len_w"))
        val sp = wl.select(col("doc_id"), col("len_w"),
          explode(transform(
            sequence(lit(0L),
              floor((size(col("ws")) - col("len_w")).cast("double") / 10.0)
                .cast("long")),
            i => struct((i * 10L).as("start_w"),
              array_join(slice(col("ws"), (i * 10 + 1).cast("int"), col("len_w")),
                " ").as("span")))).as("e"))
          .select(col("doc_id"), col("len_w").cast("long").as("len_w"),
            col("e.start_w").as("start_w"), col("e.span").as("span"))
        val dupKeys = sp.groupBy(col("len_w"), col("span"))
          .agg(count(lit(1)).as("n_loc"))
          .where(col("n_loc") >= 2)
        val d = sp.join(dupKeys, Seq("len_w", "span"))
          .select(col("doc_id"), col("len_w"), col("start_w"), col("n_loc"))
          .persist()
        def parent(pLen: Long, off: Long) =
          struct(lit(pLen).as("p_len"), (col("start_w") - off).as("p_start"))
        val cand10 = array(parent(20, 10), parent(20, 0),
          parent(40, 30), parent(40, 20), parent(40, 10), parent(40, 0))
        val cand20 = array(parent(40, 20), parent(40, 10), parent(40, 0))
        val suppressed = d.where(col("len_w") < 40)
          .select(col("doc_id"), col("len_w"), col("start_w"),
            explode(when(col("len_w") === 10, cand10).otherwise(cand20)).as("c"))
          .where(col("c.p_start") >= 0)
          .join(d.select(col("doc_id").as("p_doc"), col("len_w").as("p_len"),
            col("start_w").as("p_start")),
            col("doc_id") === col("p_doc") &&
              col("c.p_len") === col("p_len") &&
              col("c.p_start") === col("p_start"), "left_semi")
          .select(col("doc_id"), col("len_w"), col("start_w")).distinct()
        d.join(suppressed, Seq("doc_id", "len_w", "start_w"), "left_anti")
          .select(col("doc_id"), col("start_w"), col("len_w"), col("n_loc"))
          .orderBy(col("doc_id"), col("start_w"), col("len_w"))
      },
      s"""WITH $seededDocsSql,
         |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM seeded),
         |lv AS (SELECT CAST(unnest([10, 20, 40]) AS BIGINT) AS len_w),
         |wl AS (
         |  SELECT w.doc_id, w.ws, lv.len_w
         |  FROM w JOIN lv ON len(w.ws) >= lv.len_w),
         |sp AS (
         |  SELECT doc_id, len_w, i * 10 AS start_w,
         |         array_to_string(ws[(CAST(i AS INT)*10+1):(CAST(i AS INT)*10+CAST(len_w AS INT))], ' ') AS span
         |  FROM wl, LATERAL (SELECT unnest(generate_series(
         |    0, CAST(floor((len(ws) - len_w) / 10.0) AS BIGINT))) AS i)),
         |k AS (
         |  SELECT len_w, span, CAST(count(*) AS BIGINT) AS n_loc
         |  FROM sp GROUP BY 1, 2 HAVING count(*) >= 2),
         |d AS (
         |  SELECT sp.doc_id, sp.len_w, CAST(sp.start_w AS BIGINT) AS start_w,
         |         k.n_loc
         |  FROM sp JOIN k USING (len_w, span))
         |SELECT doc_id, start_w, len_w, n_loc
         |FROM d x
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM d p
         |  WHERE p.doc_id = x.doc_id AND p.len_w > x.len_w
         |    AND p.start_w <= x.start_w
         |    AND x.start_w + x.len_w <= p.start_w + p.len_w)
         |ORDER BY doc_id, start_w, len_w""".stripMargin),

    // ── t19: sliding-window chunking — the RAG/embedding-prep step
    //    (split every document into overlapping fixed-size windows, here
    //    16 words with stride 8, so each boundary appears mid-chunk in
    //    the next window). Distinct from t18: no dedup, the product IS
    //    the chunk table a downstream embedder consumes, keyed by a
    //    content digest (what the embedding join would use, and what
    //    makes re-runs idempotent). Each doc expands from its own word
    //    array — embarrassingly parallel, no shuffle before the
    //    presentation sort; chunk count per doc is ceil(words/stride). ──
    ("t19_chunk_overlap",
      (s: SparkSession, dir: String) => {
        val ch = Tables(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("ws"))
          .select(col("doc_id"),
            posexplode(transform(
              sequence(lit(0L), ceil(size(col("ws")).cast("double") / 8.0).cast("long") - 1),
              i => slice(col("ws"), (i * 8 + 1).cast("int"), lit(16))))
              .as(Seq("chunk_id", "cw")))
        ch.select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
            (col("chunk_id") * 8L).as("start_pos"),
            array_join(col("cw"), " ").as("chunk_text"),
            size(col("cw")).cast("long").as("n_words"),
            md5(array_join(col("cw"), " ").cast("binary")).as("chunk_key"))
          .orderBy(col("doc_id"), col("chunk_id"))
      },
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |ch AS (
        |  SELECT doc_id, i AS chunk_id, CAST(i*8 AS BIGINT) AS start_pos,
        |         array_to_string(ws[(CAST(i AS INT)*8+1):(CAST(i AS INT)*8+16)], ' ') AS chunk_text,
        |         CAST(len(ws[(CAST(i AS INT)*8+1):(CAST(i AS INT)*8+16)]) AS BIGINT) AS n_words
        |  FROM w, LATERAL (SELECT unnest(generate_series(
        |    0, CAST(ceil(len(ws)/8.0) AS BIGINT) - 1)) AS i))
        |SELECT doc_id, chunk_id, start_pos, chunk_text, n_words,
        |       md5(chunk_text) AS chunk_key
        |FROM ch ORDER BY doc_id, chunk_id""".stripMargin),

    // ── t20: the PIPELINE — exact dedup (t05's keep-first), quality
    //    gate (length + distinct-word fraction, the t14 signal), and
    //    language-mixture rebalance (q07's broadcast thresholds)
    //    composed as ONE declarative plan: this is the artifact a
    //    training-data engine actually ships (the clean corpus), and
    //    composing it in one query is what lets Catalyst fuse the
    //    stages — one documents scan feeds dedup + quality, and only
    //    the tiny per-language count table makes a second pass
    //    (broadcast back). Every stage binds on the fixtures: dedup
    //    drops the generator's designed duplicates, the quality gate
    //    trims short/repetitive docs, the mixture step downsamples the
    //    en-heavy remainder to the rarest language's share. ──
    ("t20_clean_corpus",
      (s: SparkSession, dir: String) => {
        val wDigest = Window.partitionBy(col("digest")).orderBy(col("doc_id"))
        val passed = Tables(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            md5(col("text").cast("binary")).as("digest"),
            split(col("text"), " ").as("ws"))
          .withColumn("rn", row_number().over(wDigest))
          .where(col("rn") === 1)
          .select(col("doc_id"), col("lang"),
            size(col("ws")).cast("long").as("n_words"),
            size(array_distinct(col("ws"))).cast("long").as("n_distinct"))
          .where(col("n_words") >= 20 &&
            col("n_distinct").cast("double") / col("n_words").cast("double") >= 0.3)
          .select(col("doc_id"), col("lang"), col("n_words"))
          .persist() // feeds the per-language counts AND the final filter
        val counts = passed.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
        val minN = counts.agg(min(col("n_lang")).as("min_n"))
        val thr = counts.crossJoin(broadcast(minN))
          .select(col("lang"),
            floor(col("min_n").cast("double") * 1000000.0 / col("n_lang").cast("double"))
              .cast("long").as("thr"))
        passed.join(broadcast(thr), Seq("lang"))
          .where(pmod(portableHash(col("doc_id").cast("string")), lit(1000000L)) < col("thr"))
          .select(col("doc_id"), col("lang"), col("n_words"))
          .orderBy(col("doc_id"))
      },
      s"""WITH deduped AS (
         |  SELECT doc_id, lang, text FROM (
         |    SELECT doc_id, lang, text,
         |           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
         |    FROM documents) WHERE rn = 1),
         |quality AS (
         |  SELECT doc_id, lang,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         |         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct
         |  FROM deduped),
         |passed AS (
         |  SELECT doc_id, lang, n_words FROM quality
         |  WHERE n_words >= 20
         |    AND CAST(n_distinct AS DOUBLE) / CAST(n_words AS DOUBLE) >= 0.3),
         |counts AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_lang FROM passed GROUP BY 1),
         |thr AS (
         |  SELECT lang, CAST(floor(CAST(min(n_lang) OVER () AS DOUBLE) * 1000000.0
         |                          / CAST(n_lang AS DOUBLE)) AS BIGINT) AS thr
         |  FROM counts)
         |SELECT p.doc_id, p.lang, p.n_words
         |FROM passed p JOIN thr USING (lang)
         |WHERE ${portableHashSql("CAST(p.doc_id AS VARCHAR)")} % 1000000 < thr.thr
         |ORDER BY p.doc_id""".stripMargin),

    // ── t21: BLOOM-PREFILTER decontamination — the shape t16's Scaladoc
    //    promises ("bloom-prefilterable") made real: the eval-set digests
    //    are folded into a Bloom filter (k=3 salted positions in an
    //    m-bit space), the TRAIN side is scanned against the broadcast
    //    bit set, and only full-k hits reach the exact digest confirm.
    //    At 100 TB this is THE decontamination plan: the filter is
    //    ≤ k·|eval| positions (a broadcast relation standing in for the
    //    bit array), the train scan never shuffles (broadcast semi-join
    //    per salt), and only the ~(k/64)^k false-positive sliver plus
    //    the true hits pay the confirm join. m is derived INSIDE the
    //    plan (v07's discipline): the smallest power of two ≥ 64·|eval|,
    //    picked from a literal powers table with integer arithmetic —
    //    no float log2, which could round differently across engines at
    //    exact powers. `confirmed=false` rows are the filter's false
    //    positives (none at the judged fill ratio ~4.7%; the binding
    //    small-m behavior is pinned by Round5cOpsSpec). ──
    ("t21_bloom_decontaminate",
      (s: SparkSession, dir: String) => {
        val tagged = seededDocs(s, dir)
          .select(col("doc_id"), md5(col("text").cast("binary")).as("digest"),
            when(pmod(portableHash(col("doc_id").cast("string")), lit(100)) < 90,
              "train").otherwise("test").as("split"))
        bloomDecontaminate(tagged, None)
      },
      s"""WITH $seededDocsSql,
         |tagged AS (
         |  SELECT doc_id, md5(text) AS digest,
         |         CASE WHEN ${portableHashSql("CAST(doc_id AS VARCHAR)")} % 100 < 90
         |              THEN 'train' ELSE 'test' END AS split
         |  FROM seeded),
         |testd AS (SELECT DISTINCT digest FROM tagged WHERE split = 'test'),
         |m AS (
         |  SELECT min(mc) AS m
         |  FROM (SELECT unnest([$bloomPowersSql]) AS mc),
         |       (SELECT count(*) AS n FROM testd)
         |  WHERE mc >= 64 * n),
         |salts AS (SELECT unnest(generate_series(0, ${BloomSalts - 1})) AS j),
         |bits AS (
         |  SELECT DISTINCT
         |    ${portableHashSql("digest || ':' || CAST(j AS VARCHAR)")} % (SELECT m FROM m) AS pos
         |  FROM testd, salts),
         |probe AS (
         |  SELECT doc_id, digest, j,
         |    ${portableHashSql("digest || ':' || CAST(j AS VARCHAR)")} % (SELECT m FROM m) AS pos
         |  FROM tagged, salts WHERE split = 'train'),
         |flagged AS (
         |  SELECT doc_id, digest FROM probe JOIN bits USING (pos)
         |  GROUP BY 1, 2 HAVING count(DISTINCT j) = $BloomSalts)
         |SELECT f.doc_id, f.digest,
         |       EXISTS (SELECT 1 FROM testd t WHERE t.digest = f.digest) AS confirmed
         |FROM flagged f ORDER BY f.doc_id""".stripMargin),

    // ── t22: UNIGRAM-LM QUALITY SCORE — the CCNet/CC-style language-
    //    model filter in its simplest judgeable form: score every doc by
    //    its mean token log-probability under the corpus's own unigram
    //    distribution (boilerplate-heavy docs of common tokens score
    //    high, gibberish scores low; a downstream gate thresholds on
    //    it). Determinism recipe: token counts are exact BIGINTs; the
    //    per-doc Σ ln c(w_i) folds over the POSITION-SORTED list
    //    (collect_list → array_sort → aggregate ↔ list(ORDER BY pos) →
    //    list_reduce — identical order, ≤1-ulp libm ln per term, crushed
    //    by round(6)); avg_logp = Σ/n − ln(N) takes no per-term
    //    rounding. Shape: one vocab hash agg, one (token → count) join
    //    (fanout 1 per token — stopword heat is partition imbalance, not
    //    blowup, and AQE's skew split or a broadcast vocab handles it at
    //    scale), one per-doc fold agg. The per-doc list is bounded by
    //    document length, not corpus size. ──
    ("t22_lm_quality",
      (s: SparkSession, dir: String) => {
        val toks = Tables(s, dir, "documents")
          .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
        val vocab = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
        val tot = vocab.agg(sum(col("c")).as("n_total"))
        toks.join(vocab, "w")
          .select(col("doc_id"), col("pos"), log(col("c").cast("double")).as("lnc"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tok"),
            aggregate(array_sort(collect_list(struct(col("pos"), col("lnc")))),
              lit(0.0), (acc, x) => acc + x.getField("lnc")).as("slnc"))
          .crossJoin(broadcast(tot))
          .select(col("doc_id"), col("n_tok"),
            round(col("slnc") / col("n_tok").cast("double") -
              log(col("n_total").cast("double")), 6).as("avg_logp"))
          .orderBy(col("doc_id"))
      },
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |toks AS (
        |  SELECT doc_id, i AS pos, ws[CAST(i AS INT)] AS w
        |  FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)),
        |vocab AS (SELECT w, count(*) AS c FROM toks GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM vocab),
        |folded AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
        |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |           list(ln(CAST(c AS DOUBLE)) ORDER BY pos)),
        |           (acc, x) -> acc + x) AS slnc
        |  FROM toks JOIN vocab USING (w) GROUP BY 1)
        |SELECT doc_id, n_tok,
        |       round(slnc / CAST(n_tok AS DOUBLE)
        |             - ln(CAST((SELECT n_total FROM tot) AS DOUBLE)), 6) AS avg_logp
        |FROM folded ORDER BY doc_id""".stripMargin),

    // ── t23: ONE BPE MERGE STEP — tokenizer-vocab induction at corpus
    //    scale (the inner loop of byte-pair-encoding training: count
    //    adjacent symbol pairs across word occurrences weighted by word
    //    frequency; the argmax pair becomes the next vocab entry, the
    //    corpus re-segments, repeat). Shape is what makes it 100 TB-
    //    viable: the FIRST aggregation collapses the corpus to its
    //    word-frequency table (hash-agg with map-side combine —
    //    |vocab| rows out, corpus rows in), and pairs explode off that
    //    bounded table, so the pair stage costs vocabulary size
    //    regardless of corpus size — exactly how production BPE
    //    trainers structure the count. Judged artifact: the top-12
    //    merge candidates by weighted count (pair-string tie-break),
    //    the ranking a trainer consumes. ──
    ("t23_bpe_merge",
      (s: SparkSession, dir: String) => {
        val words = Tables(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("word"))
          .where(length(col("word")) >= 2)
          .groupBy(col("word")).agg(count(lit(1)).as("wf"))
        words
          .select(col("word"), col("wf"),
            explode(expr("sequence(1, length(word) - 1)")).as("i"))
          .selectExpr("substring(word, i, 2) AS pair", "wf")
          .groupBy(col("pair")).agg(sum(col("wf")).cast("long").as("cnt"))
          .orderBy(col("cnt").desc, col("pair"))
          .limit(12)
      },
      """WITH words AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS wf FROM (
        |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  WHERE length(word) >= 2 GROUP BY 1),
        |pos AS (
        |  SELECT word, wf,
        |         unnest(generate_series(1, length(word) - 1)) AS i
        |  FROM words),
        |agg AS (
        |  SELECT substring(word, CAST(i AS INT), 2) AS pair,
        |         CAST(sum(wf) AS BIGINT) AS cnt
        |  FROM pos GROUP BY 1)
        |SELECT pair, cnt FROM agg
        |ORDER BY cnt DESC, pair LIMIT 12""".stripMargin),

    // ── t23b: the BPE TRAINING LOOP — t23 iterated. Each merge: count
    //    adjacent symbol pairs over the word-frequency table (weighted by
    //    wf), take the argmax (cnt desc, then pair — deterministic
    //    cross-engine tie-break), RE-SEGMENT every word by greedy
    //    left-to-right application of that merge, repeat. The loop
    //    state is the segmented word-frequency table — VOCAB-bounded,
    //    never corpus-bounded — pinned per merge by `Fixpoint.pin`, so
    //    merge N costs the same as merge 1 and the loop extends to the
    //    thousands of merges a production tokenizer trains.
    //    Re-segmentation is a left FOLD over the symbol list
    //    with a string accumulator (merge = append WITHOUT the space
    //    separator) — handles runs exactly ("l l l l" → "ll ll") and
    //    never interprets symbols as patterns, so it is safe for any
    //    corpus byte; the full-token test is `acc = a OR acc ends with
    //    ' '||a`, which cannot false-match a merged or longer symbol.
    //    The 1-row argmax rides back into the plan as a broadcast cross
    //    join — no driver collect anywhere; the judged artifact is the
    //    merge TABLE (step, a, b, cnt), the exact file a trainer ships.
    //    Oracle: the identical loop unrolled as chained CTEs, the fold
    //    as list_reduce with a prepended '' accumulator. ──
    ("t23b_bpe_train",
      (s: SparkSession, dir: String) => {
        val (merges, _) = bpeTrain(s, dir, 3)
        merges.reduce(_ union _).orderBy(col("step"))
      },
      s"""$bpeTrainPrelude
         |SELECT * FROM (
         |  SELECT CAST(1 AS BIGINT) AS step, a, b, cnt FROM m1
         |  UNION ALL SELECT CAST(2 AS BIGINT), a, b, cnt FROM m2
         |  UNION ALL SELECT CAST(3 AS BIGINT), a, b, cnt FROM m3)
         |ORDER BY step""".stripMargin),

    // ── t24: BPE ENCODE — the trained vocabulary applied BACK to the
    //    corpus (the tokenize step every training-data pipeline runs
    //    after t23b's train step): per-document token counts under the
    //    3-merge vocabulary. The scale-defining move is that
    //    segmentation is computed ONCE PER DISTINCT WORD (the t23b
    //    loop's final state already holds it) and joined back to the
    //    exploded corpus by word — exactly how production tokenizers
    //    amortize encode cost: the fold runs |vocab| times, not once
    //    per corpus token occurrence. The word join is a plain equi-
    //    join (vocab-bounded build side; AQE broadcasts it when small,
    //    shuffles when a 100 TB corpus's vocabulary isn't), and the
    //    per-doc rollup is one hash-agg with map-side combine. Judged:
    //    (doc_id, n_words, n_tok) — the before/after compression a
    //    tokenizer report ships. ──
    ("t24_bpe_encode",
      (s: SparkSession, dir: String) => {
        val (_, seg) = bpeTrain(s, dir, 3)
        val wtok = seg.select(col("word"),
          size(split(col("seg"), " ")).cast("long").as("n_tok"))
        Tables(s, dir, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
          .where(length(col("word")) >= 2)
          .join(wtok, "word")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_words"), sum(col("n_tok")).cast("long").as("n_tok"))
          .orderBy(col("doc_id"))
      },
      s"""$bpeTrainPrelude,
         |wtok AS (
         |  SELECT word, CAST(len(string_split(seg, ' ')) AS BIGINT) AS n_tok
         |  FROM seg3),
         |docw AS (
         |  SELECT doc_id, word FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
         |  WHERE length(word) >= 2)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |       CAST(sum(n_tok) AS BIGINT) AS n_tok
         |FROM docw JOIN wtok USING (word)
         |GROUP BY 1 ORDER BY doc_id""".stripMargin),

    // ── t28: trained-model scoring as a relational projection — the
    //    pipeline step every quality-filtered corpus ends with: a
    //    linear classifier (logistic head over stopword ratio and mean
    //    word length, weights as plan literals the way a production
    //    scorer broadcasts its coefficients) applied to every doc
    //    INSIDE whole-stage codegen — no UDF, no model server, the
    //    score is just one more projected column. The sigmoid output
    //    is rounded once to a ×1e6 BIGINT and the keep decision
    //    compares INTEGERS (p6 ≥ 500000), so the judged kept-counts
    //    can't flip on a float boundary; per-language keep rates and
    //    mean scores aggregate with map-side combine. ──
    ("t28_quality_model",
      (s: SparkSession, dir: String) => {
        val words = split(col("text"), " ")
        val stopArr = array(Seq("the", "a", "of", "and", "to", "in", "is",
          "it", "on", "for").map(lit): _*)
        val nw = size(words).cast("double")
        val swr = size(filter(words, w => array_contains(stopArr, w)))
          .cast("double") / nw
        val mwl = (length(col("text")) - (size(words) - lit(1))).cast("double") / nw
        val score = lit(-1.0) + lit(20.0) * swr + lit(0.1) * (mwl - lit(4.5))
        val p6 = round((lit(1.0) / (lit(1.0) + exp(-score))) * 1000000).cast("long")
        Tables(s, dir, "documents")
          .select(col("lang"), p6.as("p6"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("p6") >= 500000L, 1L).otherwise(0L)).as("n_kept"),
            sum(col("p6")).as("sp6"))
          .select(col("lang"), col("n_docs"), col("n_kept"),
            expr("sp6 DIV n_docs").as("avg_p_ppm"))
          .orderBy(col("lang"))
      }, {
        val nwSql = "len(string_split(text, ' '))"
        val swrSql = s"CAST(len(list_filter(string_split(text, ' '), w -> list_contains(['the','a','of','and','to','in','is','it','on','for'], w))) AS DOUBLE) / CAST($nwSql AS DOUBLE)"
        val mwlSql = s"CAST(length(text) - ($nwSql - 1) AS DOUBLE) / CAST($nwSql AS DOUBLE)"
        val scoreSql = s"-1.0 + 20.0 * ($swrSql) + 0.1 * (($mwlSql) - 4.5)"
        s"""WITH f AS (
           |  SELECT lang,
           |         CAST(round((1.0 / (1.0 + exp(-($scoreSql)))) * 1000000, 0) AS BIGINT) AS p6
           |  FROM documents)
           |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(CASE WHEN p6 >= 500000 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           |       CAST(sum(p6) AS BIGINT) // CAST(count(*) AS BIGINT) AS avg_p_ppm
           |FROM f GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // ── t26: tokenizer FERTILITY by language — the standard
    //    multilingual tokenizer-eval table (tokens per word under the
    //    trained vocabulary, the number a tokenizer report leads with:
    //    high fertility on a language means its text costs more
    //    sequence length per word). Completes the BPE family's
    //    train (t23b) → encode (t24) → evaluate arc the same way
    //    v10/v20/v26/t25 close their families. Same amortized shape as
    //    t24 — the fold ran once per distinct word in the training
    //    loop; this is one equi-join plus a 5-row language rollup —
    //    and fertility is an exact integer ppm, no float division. ──
    ("t26_bpe_fertility",
      (s: SparkSession, dir: String) => {
        val (_, seg) = bpeTrain(s, dir, 3)
        val wtok = seg.select(col("word"),
          size(split(col("seg"), " ")).cast("long").as("n_tok"))
        Tables(s, dir, "documents")
          .select(col("lang"), explode(split(col("text"), " ")).as("word"))
          .where(length(col("word")) >= 2)
          .join(wtok, "word")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_words"), sum(col("n_tok")).cast("long").as("n_tok"))
          .select(col("lang"), col("n_words"), col("n_tok"),
            expr("(n_tok * 1000000) DIV n_words").as("fertility_ppm"))
          .orderBy(col("lang"))
      },
      s"""$bpeTrainPrelude,
         |wtok AS (
         |  SELECT word, CAST(len(string_split(seg, ' ')) AS BIGINT) AS n_tok
         |  FROM seg3),
         |docw AS (
         |  SELECT lang, word FROM (
         |    SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents)
         |  WHERE length(word) >= 2)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
         |       CAST(sum(n_tok) AS BIGINT) AS n_tok,
         |       (CAST(sum(n_tok) AS BIGINT) * 1000000) // CAST(count(*) AS BIGINT)
         |         AS fertility_ppm
         |FROM docw JOIN wtok USING (word)
         |GROUP BY 1 ORDER BY lang""".stripMargin)
  )

  /** The t23b/t24 BPE training loop: collapse the corpus to its word-
    * frequency table once, then iterate (argmax pair → greedy reseg).
    * State is (word, seg, wf) — VOCAB-bounded, pinned per merge by
    * `Fixpoint.pin`. Returns the per-step 1-row merge frames and the final
    * segmentation state. The argmax rides back into the plan as a
    * broadcast cross join — no driver collect anywhere. */
  private[graft] def bpeTrain(s: SparkSession, dir: String, nMerges: Int): (Seq[DataFrame], DataFrame) = {
    val words = Tables(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .where(length(col("word")) >= 2)
      .groupBy(col("word")).agg(count(lit(1)).as("wf"))
    var seg = Fixpoint.pin(words.select(col("word"),
      concat_ws(" ", expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))")).as("seg"),
      col("wf")), bounded = false)
    val merges = Seq.newBuilder[DataFrame]
    for (step <- 1 to nMerges) {
      // argmax pair of the CURRENT segmentation, pinned so the reseg and
      // the output row can't diverge
      val best = Fixpoint.pin(seg
        .select(split(col("seg"), " ").as("syms"), col("wf"))
        .where(size(col("syms")) >= 2)
        .select(col("wf"), explode(expr(
          "transform(sequence(0, size(syms) - 2), i -> struct(syms[i] AS a, syms[i + 1] AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("wf")).cast("long").as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1), bounded = false)
      merges += best.select(lit(step.toLong).as("step"),
        col("a"), col("b"), col("cnt"))
      // greedy left-to-right merge as a string-accumulator fold: merge =
      // append WITHOUT the space separator; the full-token test
      // (acc = a OR acc ends with ' '||a) cannot false-match a longer or
      // already-merged symbol, and symbols are never used as patterns
      seg = Fixpoint.pin(seg.crossJoin(broadcast(best.select(col("a"), col("b"))))
        .select(col("word"), expr(
          "aggregate(split(seg, ' '), '', (acc, x) -> " +
            "CASE WHEN acc = '' THEN x " +
            "WHEN x = b AND (acc = a OR right(acc, length(a) + 1) = ' ' || a) THEN acc || b " +
            "ELSE acc || ' ' || x END)").as("seg"),
          col("wf")), bounded = false)
    }
    (merges.result(), seg)
  }

  /** The DuckDB mirror of [[bpeTrain]] at 3 merges: words → seg0 → three
    * (pair-count, argmax, reseg) CTE triples; the fold is list_reduce
    * with a prepended '' accumulator. Shared by the t23b and t24
    * oracles. */
  private def bpeTrainPrelude: String = {
    def stepCtes(i: Int): String =
      s"""p$i AS (
         |  SELECT s[i] AS a, s[i + 1] AS b, CAST(sum(wf) AS BIGINT) AS cnt
         |  FROM (SELECT string_split(seg, ' ') AS s, wf FROM seg${i - 1}),
         |       LATERAL (SELECT unnest(generate_series(1, len(s) - 1)) AS i)
         |  GROUP BY 1, 2),
         |m$i AS (SELECT a, b, cnt FROM p$i ORDER BY cnt DESC, a, b LIMIT 1),
         |seg$i AS (
         |  SELECT word, list_reduce(list_prepend('', string_split(seg, ' ')),
         |           (acc, x) -> CASE WHEN acc = '' THEN x
         |                            WHEN x = m.b AND (acc = m.a
         |                                 OR right(acc, length(m.a) + 1) = ' ' || m.a)
         |                            THEN acc || m.b
         |                            ELSE acc || ' ' || x END) AS seg, wf
         |  FROM seg${i - 1}, m$i m)""".stripMargin
    s"""WITH words AS (
       |  SELECT word, CAST(count(*) AS BIGINT) AS wf FROM (
       |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE length(word) >= 2 GROUP BY 1),
       |seg0 AS (
       |  SELECT word, array_to_string(list_transform(generate_series(1, length(word)),
       |           i -> substring(word, CAST(i AS INT), 1)), ' ') AS seg, wf
       |  FROM words),
       |${(1 to 3).map(stepCtes).mkString(",\n")}""".stripMargin
  }

  def queries: Map[String, Q] = catalog.map { case (n, q, _) => n -> q }.toMap
  def oracle: Map[String, String] = catalog.map { case (n, _, o) => n -> o }.toMap
}
