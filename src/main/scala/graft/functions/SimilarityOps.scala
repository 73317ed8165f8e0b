package graft.functions

import graft.QueryPack
import graft.core.Tables
import graft.plans.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (north-star extension,
  * SURVEY.md §7.2 step 8).
  *
  * Three tiers:
  *  - `sim_cosine_topk`: brute-force exact top-k via the native codegen
  *    [[graft.expr.CosineSimilarity]] — the correctness baseline. Queries
  *    are broadcast, so the candidate side streams through one codegen
  *    stage: at 100 TB this is a single scan, no shuffle.
  *  - `sim_ann_lsh`: random-hyperplane LSH — each vector hashed to a
  *    16-bit signature bucket; candidates only meet within a bucket. This
  *    is the scale path: the all-pairs O(n²) becomes O(Σ bucket²), one
  *    shuffle on bucket id.
  *  - `sim_pairs_threshold`: all pairs above a cosine threshold
  *    (embedding near-dup dedup) — exact small-n form; at scale the same
  *    verify step runs on LSH candidates instead of all pairs.
  *
  * Hyperplanes are a fixed seeded constant (reproducible across runs and
  * cluster sizes — an index built today must match one built tomorrow).
  */
object SimilarityOps extends QueryPack {

  /** Embedding dimension — aliased to the plane family's so a change to
    * either is a change to both (a mismatch is a per-row runtime throw). */
  val Dim: Int = graft.expr.Hyperplanes.Dim
  val NPlanes = 16
  /** Wider family for the candidate-generator configs; the first `NPlanes`
    * are the same planes `annLsh` has always used (same seeded stream —
    * extending the family appends planes, it never changes existing ones,
    * so every gate-validated config is byte-identical). 128 planes admit
    * the 8×8 deployment shapes a clustered corpus wants
    * (the Harness `crossover` subcommand): more buckets per table than clusters,
    * or Σ|bucket|² degenerates toward n².
    */
  val NPlanesMax: Int = graft.expr.Hyperplanes.Max

  /** Seeded Rademacher (±1) hyperplanes: deterministic, no data dependence.
    * Canonical storage is [[graft.expr.Hyperplanes]] (primitive float[][]
    * for the `lsh_buckets` kernel); this is the Seq view the oracle-SQL
    * generator and tools consume.
    */
  lazy val hyperplanes: Seq[Seq[Float]] =
    graft.expr.Hyperplanes.planes.toSeq.map(_.toSeq)

  /** Exactness knob (mirrors `graft.sums.exact`): `graft.sim.exact=true`
    * (default) keeps the all-pairs exact baselines; `false` routes
    * `sim_pairs_threshold` / `dedup_embedding_cosine` through the banded
    * LSH candidate generator — the 100 TB path. ExactnessSpec asserts the
    * two paths produce identical rows on the test data (the band shapes
    * below are chosen so candidate recall is total there; `tools/
    * lsh_recall.py` is the measurement that picked them).
    */
  def exactSim(spark: SparkSession): Boolean =
    graft.core.Profile.exactKnob(spark, "graft.sim.exact")

  /** Corpus-tunable band shape for a banded route: `graft.sim.bands.<key>`
    * = `"<tables>x<planes>"` (e.g. `"8x4"`). Defaults are the shapes the
    * oracle gate has always validated (chosen for TOTAL candidate recall on
    * the driver's near-uniform test embeddings — tools/lsh_recall.py). The
    * knob exists because band shapes are a corpus property, not a code
    * property: candidate volume is Θ(Σ|bucket|²), so a clustered deployment
    * corpus wants more planes per table (smaller buckets) than the
    * worst-case-uniform gate corpus. the Harness `crossover` subcommand is the
    * offline measurement that validates a shape for a given corpus;
    * [[graft.functions.BandTuner.suggest]] is the cheap online advisor
    * (analytic recall + sampled Σ|bucket|²) a deployment consults first.
    */
  private[graft] def bandShape(spark: SparkSession, key: String,
      defTables: Int, defPlanes: Int): (Int, Int) = {
    val s = spark.conf.get(s"graft.sim.bands.$key", s"${defTables}x$defPlanes")
    // positivity (and parseability — toIntOption, so an all-digit value
    // past Int range fails HERE too, not as a bare NumberFormatException)
    // is validated at the knob so every route fails with the knob error —
    // the minhash route would otherwise die deep in plan build
    // (numHashes=0 → empty agg list) with an opaque NoSuchElementException
    val parsed = s.toLowerCase.split("x") match {
      case Array(ts, ps) =>
        for (t <- ts.trim.toIntOption; p <- ps.trim.toIntOption
             if t > 0 && p > 0) yield (t, p)
      case _ => None
    }
    parsed.getOrElse(sys.error(
      s"graft.sim.bands.$key must be '<tables>x<planes>' with both positive ints, got '$s'"))
  }

  /** Prefilter knob, `graft.sim.prefilter` (default true): threshold
    * routes that pass `prefilterTheta` to [[lshCandidateIds]] cut candidate
    * pairs with the provably-lossless [[graft.expr.Int8Keep]] int8 bound
    * BEFORE the pair distinct and the float verify joins. Answers are
    * identical either way (Int8PrefilterSpec / ExactnessSpec); the knob
    * exists for A/B measurement, not semantics.
    */
  private[graft] def prefilterOn(spark: SparkSession): Boolean =
    spark.conf.get("graft.sim.prefilter", "true").toBoolean

  /** `graft.sim.bucketcap.<key>` (default 0 = off): before the candidate
    * self-join, DROP every (table, bucket) group holding more than this
    * many vectors — the embedding-side twin of `graft.dedup.bucketcap`
    * (SCALE.md round 12 named it the symmetric hazard; round 13 measures
    * it). The int8 prefilter cannot touch this mass: a hot bucket of
    * near-IDENTICAL vectors (a thousand-fold-duplicated embedding, a
    * zero-vector pile, a template artifact) passes any cosine bound BY
    * VALUE, so its c(c−1)/2 pairs all reach the pair distinct and the
    * float verify — quadratic in the duplication factor. Capping bounds
    * candidate mass to O(corpus × cap).
    *
    * Semantics, stated honestly (the minhash dial's argument transposed):
    * capping is LOSSY, which is why the gate leaves it off. A pair at
    * cosine c collides per table with probability (1−θ/π)^planes, so a
    * pair losing k of its colliding tables to the cap is still found
    * through any surviving shared bucket — near-neighbor pairs that share
    * ANY small bucket survive. What the cap removes outright is pairs ALL
    * of whose shared buckets are degenerate — i.e. vectors whose
    * similarity IS the mass duplication, which exact dedup upstream (or
    * [[SimilarityOps.quantizeInt8]]-keyed grouping) handles cheaper than
    * any pairwise route. ExactnessSpec pins both directions: a permissive
    * cap is a no-op on the gate corpus, and the capped candidate set
    * equals the independent pairs-sharing-a-small-bucket reference on a
    * dense-duplicate corpus.
    *
    * PRECONDITION — corpus-matched band shape. Sign-LSH has only
    * 2^planesPerTable buckets per table, so a cap below
    * corpus / 2^planes puts EVERY bucket over the cap and silently
    * empties the index (measured, SCALE.md round 13: 8×4 at 20k vectors
    * with cap 512 → 0 candidates — every bucket held ~1250). The dial
    * belongs with the shape rule SCALE.md round 6 already mandates
    * (bucket count ≫ cluster count, via `graft.sim.bands.<key>` and
    * [[graft.functions.BandTuner.suggest]]); on a matched shape the hot
    * cluster still collapses into ONE bucket per table (near-identical
    * vectors share every sign bit) while the background spreads, and the
    * cap separates cleanly. Since round 15 the precondition is also a
    * RUNTIME tripwire, not just this paragraph: the shared
    * [[DedupOps.dropOversizedBuckets]] helper require-fails when the cap
    * would empty the index — ≥ 99% of buckets over the cap, or ≥ 99% of
    * bucketed rows over it without the few-hot-buckets signature — and
    * warns when over-cap buckets hold ≥ 50% of the rows, so the measured
    * silent-empty shape fails loud at construction and sub-fatal mass
    * loss is visible (see its scaladoc for the full predicate).
    *
    * SCOPED PER CONSUMER (round 15, r14 advice #3): the dial is keyed
    * like the band shapes — `graft.sim.bucketcap.cosdedup` caps the
    * embedding-dedup route, `.pairs` the threshold route, `.adhoc` direct
    * [[lshCandidateIds]] calls (tools, specs) — because one global value
    * tuned for dedup's hot-bucket excision silently degraded every OTHER
    * `lshCandidateIds` consumer in the same session: a top-1 route that
    * loses a hot-bucket member's only shared bucket loses that vector's
    * true nearest outright, where dedup merely re-finds the pair through
    * transitive small buckets. The legacy un-scoped name fails loud with
    * a migration message rather than capping everything.
    */
  private[graft] def simBucketCap(spark: SparkSession, key: String): Int = {
    // a legacy value that PARSES to off (≤ 0, the documented old default)
    // stays the no-op it always was; anything else — a real cap or
    // garbage — fails loud with the migration message
    require(spark.conf.getOption("graft.sim.bucketcap")
        .forall(v => v.toIntOption.exists(_ <= 0)),
      "graft.sim.bucketcap is no longer a global dial: one value capped EVERY " +
        "banded-candidate consumer in the session, so a cap tuned for dedup " +
        "silently degraded top-1 routes. Set graft.sim.bucketcap.<key> for the " +
        "consumer you mean (cosdedup, pairs, or adhoc for direct " +
        "lshCandidateIds calls).")
    // parse like [[probeBitsOf]]: a non-numeric value fails naming the
    // KEY and the expected form, not with a bare NumberFormatException
    // that names neither (round-16 advice #3)
    val raw = spark.conf.get(s"graft.sim.bucketcap.$key", "0")
    raw.toIntOption.getOrElse(sys.error(
      s"graft.sim.bucketcap.$key must be an int bucket cap (<= 0 = off), got '$raw'"))
  }

  /** Banded candidate pairs: distinct (v1 < v2) id pairs that share at
    * least one (table, bucket) under `nTables` tables of `planesPerTable`
    * hyperplane sign bits each. The dial every LSH consumer turns:
    * more planes per table → smaller buckets → cheaper but lower recall;
    * more tables → more chances to collide → higher recall. Callers pick
    * per threshold (near-dup at 0.9 tolerates 4-bit tables; a loose 0.4
    * threshold needs 2-bit ones).
    *
    * Scale shape: one narrow shuffle of (table,bucket,id) rows, a
    * per-bucket self-join, and a distinct on the id PAIR only — vectors
    * are NOT carried through the distinct (re-joined by id afterwards by
    * callers that need them).
    *
    * `prefilterTheta`: threshold consumers (pairs ≥ θ) pass their float
    * cosine threshold here; each vector's `int8_enc` blob (d code bytes +
    * 16 — vs 256+ for the float array) then rides through the bucket
    * shuffle, and `int8_keep(b1, b2, θ)` rejects provably-below-θ pairs
    * INSIDE the self-join stage, before the pair distinct. A recall-heavy
    * shape (16×2 at θ=0.4) admits nearly all n² pairs as candidates — the
    * distinct exchange and the downstream float-array verify joins were
    * the query's dominant cost, and both now see only near-threshold
    * survivors. Lossless by the [[graft.expr.Int8Blob]] margin bound, so
    * every ExactnessSpec invariant is unchanged. Top-1/argmax consumers
    * have no threshold to prefilter against and pass None.
    */
  def lshCandidateIds(spark: SparkSession, dir: String,
      nTables: Int, planesPerTable: Int, within: Seq[String] = Nil,
      probeBits: Int = 0, prefilterTheta: Option[Double] = None,
      capKey: String = "adhoc"): DataFrame = {
    import spark.implicits._
    require(nTables * planesPerTable <= NPlanesMax,
      s"need ${nTables * planesPerTable} planes, have $NPlanesMax")
    require(probeBits >= 0 && probeBits <= planesPerTable,
      s"probeBits $probeBits must be in [0, planesPerTable=$planesPerTable]")
    GraftFunctions.register(spark)
    val theta = prefilterTheta.filter(_ => prefilterOn(spark))
    // ALL table buckets in one native kernel call per row (`lsh_buckets`,
    // graft.expr.LshBuckets) — the previous form composed nTables ×
    // planesPerTable separate CASE WHEN dot_product(emb, <literal>) columns,
    // whose per-element boxed literal access cost 275 µs/row at 8×8 (the
    // bucketing, not the candidate join, was 95% of banded wall time;
    // SCALE.md round 6's stage decomposition). posexplode yields (table,
    // bucket) pairs.
    //
    // `within` columns partition the index (e.g. per-label): buckets only
    // pair inside the same partition value, shrinking candidate volume
    // for partition-filtered searches without touching the signatures.
    // the prefilter blob is computed ONCE per vector, in a projection BELOW
    // the bucket explode, then rides the (tbl,bucket) shuffle. Two plan
    // subtleties, both load-bearing: (a) the blob must be a materialized
    // COLUMN before the posexplode select — listing the int8_enc expression
    // in the same select would extract the generator underneath it and
    // re-evaluate the encoder per generated row (t× per vector); as a
    // pass-through column it lands in the Generate's requiredChildOutput
    // instead. (b) the coalesce makes the column provably non-null, or the
    // nullIntolerant int8_keep join filter infers an IsNotNull(blob)
    // constraint that re-runs the encoder in a Filter below the Project
    // (Filter/Project don't share subexpressions — the best_cell lesson).
    // int8_enc is null only for a null embedding, and those rows generate
    // ZERO bucket rows anyway (posexplode of lsh_buckets' null), so the
    // empty-blob sentinel can never reach int8_keep.
    val e0 = Tables.embeddings(spark, dir)
    val withBlob = theta match {
      case Some(_) => e0.withColumn("blob",
        coalesce(expr("int8_enc(embedding)"), lit(Array.emptyByteArray)))
      case None => e0
    }
    val blobCols = if (theta.isDefined) Seq($"blob") else Nil
    val bucketed = withBlob
      .select(($"vec_id" +: within.map(col)) ++ blobCols :+
        posexplode(expr(s"lsh_buckets(embedding, $nTables, $planesPerTable)"))
          .as(Seq("tbl", "bucket")): _*)
    val keys = Seq("tbl", "bucket") ++ within
    // oversized-bucket drop ([[simBucketCap]], off for the gate): the
    // shared [[DedupOps.dropOversizedBuckets]] helper — the minhash
    // dial's implementation, one place so the dials cannot diverge (see
    // its scaladoc for the materialize-once/lazy-checkpoint posture and
    // block lifetime). The probe route's FLIPPED stream is left
    // uncapped: its join partner is the capped base stream, so probe
    // mass into a dropped bucket dies at the join and the output stays
    // bounded by |flipped| × cap.
    val cap = simBucketCap(spark, capKey)
    val bucketedC =
      if (cap > 0) DedupOps.dropOversizedBuckets(bucketed, keys, cap,
        s"graft.sim.bucketcap.$capKey")
      else bucketed
    // int8_keep rejection runs in the self-join output stage, BEFORE any
    // pair reaches the distinct exchange — the filtered mass never shuffles
    def keepOf(df: DataFrame): DataFrame = theta match {
      case Some(t) => df.filter(call_function("int8_keep", $"b1", $"b2", lit(t)))
      case None => df
    }
    // shuffle_hash hint on the prefiltered self-join: both sides are the
    // SAME corpus-sized relation, so broadcast is never the scale-correct
    // strategy — yet a session with a generous broadcast threshold (the
    // crossover harness sets 256 MB for its exact baseline's benefit) will
    // happily broadcast the blob-carrying side, and at 20k vectors that
    // 135 MB broadcast measured 5× slower than the shuffle join (SCALE.md
    // round 10). Shuffling also lets AQE reuse the one exchange for both
    // sides. The unprefiltered path is left to the planner for
    // round-over-round comparability of the historical crossover numbers.
    def side(v: String, b: String): DataFrame = {
      val s = bucketedC.select(
        (keys.map(col) :+ $"vec_id".as(v)) ++
          (if (theta.isDefined) Seq($"blob".as(b)) else Nil): _*)
      if (theta.isDefined) s.hint("shuffle_hash") else s
    }
    // Base candidates: the symmetric bucket self-join — every pair appears
    // in both orders, the `<` keeps one, so the dominant base-bucket mass
    // is never duplicated into the distinct.
    val basePairs = keepOf(
      side("v1", "b1").join(side("v2", "b2"), keys).filter($"v1" < $"v2"))
      .select($"v1", $"v2")
    if (probeBits == 0) basePairs.distinct()
    else {
      // Multi-probe (probeBits > 0): each vector ALSO probes, per table,
      // the `probeBits` Hamming-1 neighbor buckets of its lowest-|dot|
      // planes (`lsh_probes`, graft.expr.LshProbes) — isolated vectors
      // whose neighbor sits one near-zero sign flip away are found without
      // adding tables. Only the FLIPPED slots join here (`pos % stride !=
      // 0`): the base slot is basePairs' job, so probing adds exactly the
      // neighbor-bucket mass instead of re-discovering (and doubling) the
      // base mass. The flipped join is asymmetric — each vector probes its
      // OWN low-margin planes, so a pair can surface from either side only
      // — hence canonicalize with least/greatest rather than pre-filter
      // with `<`, which would silently drop discoveries made from the
      // larger id. Probing only ADDS candidates over the base route, so
      // banded ≡ exact invariants are preserved (ExactnessSpec runs the
      // knob on).
      val stride = 1 + probeBits
      val flipped = withBlob
        .select(($"vec_id" +: within.map(col)) ++ blobCols :+
          posexplode(expr(
            s"lsh_probes(embedding, $nTables, $planesPerTable, $probeBits)"))
            .as(Seq("pos", "bucket")): _*)
        .filter(pmod($"pos", lit(stride)) =!= 0)
        .withColumn("tbl", expr(s"pos div $stride").cast("int"))
      // int8_keep is symmetric, so rejecting before the least/greatest
      // canonicalization filters the same pairs it would after
      val flippedSide = {
        val s = flipped.select((keys.map(col) :+ $"vec_id".as("v1")) ++
          (if (theta.isDefined) Seq($"blob".as("b1")) else Nil): _*)
        // same corpus-sized-side reasoning as `side` above
        if (theta.isDefined) s.hint("shuffle_hash") else s
      }
      val probePairs = keepOf(
        flippedSide
          .join(side("v2", "b2"), keys)
          .filter($"v1" =!= $"v2"))
        .select(least($"v1", $"v2").as("v1"), greatest($"v1", $"v2").as("v2"))
      basePairs.union(probePairs).distinct()
    }
  }

  /** Multi-probe knob, `graft.sim.probe.<key>` = number of Hamming-1
    * neighbor buckets to visit per table on the probe side (default 0 =
    * off, the gate posture; the band shapes the gate validates are already
    * recall-total there). A deployment turns it on to buy top-1 recall on
    * isolated vectors WITHOUT adding tables — candidate volume grows by at
    * most (1+bits)×, concentrated on the low-margin planes where misses
    * live. Clamped to planesPerTable ([[graft.expr.LshProbes]] can only
    * flip bits a table has).
    */
  private[graft] def probeBitsOf(spark: SparkSession, key: String,
      planesPerTable: Int): Int = {
    val raw = spark.conf.get(s"graft.sim.probe.$key", "0")
    val v = raw.toIntOption.getOrElse(sys.error(
      s"graft.sim.probe.$key must be a non-negative int, got '$raw'"))
    require(v >= 0, s"graft.sim.probe.$key must be >= 0, got $v")
    math.min(v, planesPerTable)
  }

  /** Per-vector L2 norm, precomputed ONCE in the narrow scan so per-pair
    * scoring pays one accumulator instead of three: the `cosine_sim`
    * kernel re-derives BOTH norms inside every pair evaluation, which is
    * the right shape for a one-shot pair but 3× too much work for the
    * all-pairs / scored-self-join legs that score Θ(n²/L) or Θ(Σ|bucket|²)
    * pairs against the same vectors.
    */
  private[graft] def normCol: Column = expr("sqrt(dot_product(embedding, embedding))")

  /** Precomputed-norm cosine — BIT-IDENTICAL to `cosine_sim(e1, e2)`:
    * the dot accumulates in the same left-to-right order, each norm is the
    * same `Math.sqrt` of the same left-to-right Σx² the kernel computes
    * per pair, and `dot / (n1 * n2)` is the kernel's own final expression
    * (it multiplies the two square roots before dividing). The `when`
    * reproduces the kernel's zero-norm → 0.0 convention — without it a
    * 0/0 would yield NaN, which Spark orders ABOVE every real and would
    * silently pass ≥θ filters. Bit-identity is what keeps every oracle
    * hash and ExactnessSpec row unchanged when a leg switches form.
    */
  private[graft] def cosPre(e1: String, e2: String, n1: String, n2: String): Column =
    when(col(n1) === 0.0 || col(n2) === 0.0, lit(0.0))
      .otherwise(expr(s"dot_product($e1, $e2)") / (col(n1) * col(n2)))

  /** One side of a precomputed-norm pair-scoring leg: (vec_id, embedding,
    * nrm) renamed for the join plus any carried columns. The rename triple
    * is [[cosPre]]'s input contract — one helper instead of hand-kept
    * copies at every leg (a drifted alias on one site would break that
    * leg's bit-identity silently). Input must already carry `nrm`
    * ([[normCol]]).
    */
  private[graft] def vecSide(en: DataFrame, v: String, e: String, n: String,
      extra: (String, String)*): DataFrame =
    en.select(Seq(col("vec_id").as(v), col("embedding").as(e), col("nrm").as(n)) ++
      extra.map { case (c, a) => col(c).as(a) }: _*)

  /** Scored LSH neighbor pairs for DUPLICATE-INSENSITIVE consumers (the
    * top-1/argmax family): (v1, within..., v2, cos) rows WITH one row per
    * shared (table, bucket) — a pair colliding in k tables appears k times.
    * `max` doesn't care, and skipping canonicalization + distinct transforms
    * the route's exchange profile: [[lshCandidateIds]]-based argmax paid a
    * distinct exchange on Θ(Σ|bucket|²) id pairs plus two corpus joins whose
    * second shuffled a 64-float array PER PAIR (the dominant bytes at every
    * measured size); here the float vectors ride the narrow n·t-row bucket
    * shuffle once, the cosine runs in the self-join stage, and the only
    * pair-proportional work is in-stage compute (re-scoring a pair once per
    * shared table — bounded by nTables, and cheaper than exchanging it even
    * once). The argmax's partial aggregate then reduces in-stage to one row
    * per (v1, partition).
    *
    * Same hyperplane family, same kernels, same cosine expression as the
    * candidate route — for any fixed pair the emitted cos is bit-identical,
    * so argmax results match the distinct-path form exactly (ExactnessSpec
    * and the annLsh oracle pin it). shuffle_hash on both sides for the same
    * corpus-sized-sides reason as the prefiltered join above.
    */
  private[graft] def lshScoredNeighbors(spark: SparkSession, dir: String,
      nTables: Int, planesPerTable: Int, within: Seq[String] = Nil,
      probeBits: Int = 0): DataFrame = {
    import spark.implicits._
    require(nTables * planesPerTable <= NPlanesMax,
      s"need ${nTables * planesPerTable} planes, have $NPlanesMax")
    require(probeBits >= 0 && probeBits <= planesPerTable,
      s"probeBits $probeBits must be in [0, planesPerTable=$planesPerTable]")
    GraftFunctions.register(spark)
    // norms ride next to the embeddings (normCol, computed once per vector
    // below the explode — same pass-through-the-Generate shape as the
    // prefilter blob) so per-pair scoring is one dot, not dot + two Σx²
    val e = Tables.embeddings(spark, dir).withColumn("nrm", normCol)
    val bucketed = e.select(($"vec_id" +: within.map(col)) :+ $"embedding" :+ $"nrm" :+
      posexplode(expr(s"lsh_buckets(embedding, $nTables, $planesPerTable)"))
        .as(Seq("tbl", "bucket")): _*)
    val keys = Seq("tbl", "bucket") ++ within
    def sideOf(df: DataFrame, v: String, em: String, n: String): DataFrame =
      df.select(keys.map(col) :+ $"vec_id".as(v) :+ $"embedding".as(em) :+ $"nrm".as(n): _*)
        .hint("shuffle_hash")
    val outCols = ($"v1" +: within.map(col)) :+ $"v2" :+
      cosPre("e1", "e2", "n1", "n2").as("cos")
    // no v1 < v2: both directions fall out of the symmetric self-join
    val base = sideOf(bucketed, "v1", "e1", "n1").join(sideOf(bucketed, "v2", "e2", "n2"), keys)
      .filter($"v1" =!= $"v2")
      .select(outCols: _*)
    if (probeBits == 0) base
    else {
      // probe discoveries are DIRECTED (each vector probes its own
      // low-margin planes) — emit the swap too so the argmax sees the pair
      // from both sides, mirroring the candidate route's union-reverse
      val stride = 1 + probeBits
      val flipped = e.select(($"vec_id" +: within.map(col)) :+ $"embedding" :+ $"nrm" :+
          posexplode(expr(
            s"lsh_probes(embedding, $nTables, $planesPerTable, $probeBits)"))
            .as(Seq("pos", "bucket")): _*)
        .filter(pmod($"pos", lit(stride)) =!= 0)
        .withColumn("tbl", expr(s"pos div $stride").cast("int"))
      val probed = sideOf(flipped, "v1", "e1", "n1").join(sideOf(bucketed, "v2", "e2", "n2"), keys)
        .filter($"v1" =!= $"v2")
        .select(outCols: _*)
      base.union(probed).union(probed.select(
        ($"v2".as("v1") +: within.map(col)) :+ $"v1".as("v2") :+ $"cos": _*))
    }
  }

  /** Brute-force exact top-k: broadcast queries, one codegen scoring scan,
    * then the bounded-heap [[graft.functions.TopKAgg]] per query id —
    * map-side partial heaps mean the shuffle carries ≤ k rows per
    * (query, partition), versus the window row_number form which shuffles
    * EVERY scored candidate to rank it. Same output (heap order = window
    * order: score desc, id asc), oracle-checked either way.
    */
  def cosineTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, dir)
    val q = e.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    val c = e.select($"vec_id".as("c_id"), $"embedding".as("c_emb"))
    val topk = udaf(new graft.functions.TopKAgg(3))
    c.join(broadcast(q), $"c_id" =!= $"q_id")
      .withColumn("cos", expr("cosine_sim(q_emb, c_emb)"))
      .groupBy($"q_id")
      .agg(topk($"cos", $"c_id").as("top"))
      .select($"q_id", posexplode($"top"))
      .select($"q_id", ($"pos" + 1).cast("int").as("rank"),
        $"col.key".as("c_id"), round($"col.score", 6).as("cos"))
      .orderBy($"q_id", $"rank")
  }

  val NTables = 4
  val PlanesPerTable = 4 // NPlanes = NTables * PlanesPerTable

  /** Random-hyperplane LSH ANN, banded: 4 hash tables of 4 planes each.
    * A vector lands in one bucket per table; candidates are pairs sharing
    * ANY (table, bucket) — the OR-of-ANDs construction that trades a
    * constant factor of duplication for recall. All-pairs O(n²) becomes
    * O(Σ bucket²) with one shuffle on (table, bucket).
    * Hash-gated since round 2: the seeded hyperplanes are inlined as
    * constants into the DuckDB oracle, which replays the bucketing exactly;
    * DedupSimSpec additionally asserts recall vs the brute-force baseline.
    */
  def annLsh(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftFunctions.register(spark)
    // duplicate-insensitive consumer → the no-distinct scored form: cosine
    // runs inside the bucket self-join stage ([[lshScoredNeighbors]]); the
    // candidate distinct and both per-pair float joins are gone (round 10)
    val pairs = lshScoredNeighbors(spark, dir, NTables, PlanesPerTable)
    // per-v1 argmax via the flat-buffer arg_max_long aggregate — the
    // max_by(struct, struct) form this replaces carried struct buffers,
    // which disqualify HashAggregate and plan as SortAggregate: the whole
    // scored-pair stream gets sorted per partition (measured >90 GB of
    // spill at 250k vectors, SCALE.md round 7). arg_max_long keeps the
    // identical (cos desc, v2 asc) semantics in two primitive buffer
    // slots, so the plan is a streaming partial→final HashAggregate.
    pairs.groupBy($"v1")
      .agg(expr("arg_max_long(v2, cos)").as("b"))
      .select($"v1".as("vec_id"), $"b.id".as("nearest_in_bucket"), round($"b.score", 6).as("cos"))
      .orderBy($"vec_id")
  }

  /** `sim_pairs_threshold`'s cosine floor — shared between the final float
    * verify and the banded route's int8 prefilter so the two can never
    * drift apart (the prefilter bound is only lossless at the SAME θ). */
  val PairsThreshold = 0.4

  /** Embedding near-dup: all pairs with cosine >= 0.4. Exact form is the
    * all-pairs join (oracle-checked baseline); with `graft.sim.exact=false`
    * the SAME verify step runs on banded LSH candidates instead — the only
    * corpus-wide work becomes the (table,bucket) shuffle. 0.4 is a loose
    * threshold (66°), so the candidate config is recall-heavy: 16 tables of
    * 2 sign bits (covers every qualifying test pair — tools/lsh_recall.py);
    * at that recall the candidate set is nearly all n² pairs, which is why
    * the banded route hands θ to the int8 prefilter
    * ([[lshCandidateIds]] `prefilterTheta`): provably-below-θ pairs die in
    * the self-join stage, so the pair distinct and the two float-array
    * verify joins below see only near-threshold survivors.
    */
  def pairsAboveThreshold(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, dir)
    val pairs =
      if (exactSim(spark)) {
        // exact all-pairs leg scores C(n,2) pairs: precomputed norms +
        // cosPre (bit-identical to cosine_sim, ~3× less per-pair work)
        val en = e.withColumn("nrm", normCol)
        val a = vecSide(en, "v1", "e1", "n1", "label" -> "l1")
        val b = vecSide(en, "v2", "e2", "n2", "label" -> "l2")
        a.join(b, $"v1" < $"v2")
          .withColumn("cos", cosPre("e1", "e2", "n1", "n2"))
      } else {
        // banded verify runs on the int8-prefiltered survivor slice — tiny
        // by construction, so the plain kernel form stays
        val (t, p) = bandShape(spark, "pairs", defTables = 16, defPlanes = 2)
        lshCandidateIds(spark, dir, nTables = t, planesPerTable = p,
          probeBits = probeBitsOf(spark, "pairs", p),
          prefilterTheta = Some(PairsThreshold), capKey = "pairs")
          .join(e.select($"vec_id".as("v1"), $"embedding".as("e1"), $"label".as("l1")), Seq("v1"))
          .join(e.select($"vec_id".as("v2"), $"embedding".as("e2"), $"label".as("l2")), Seq("v2"))
          .withColumn("cos", expr("cosine_sim(e1, e2)"))
      }
    pairs
      .filter($"cos" >= PairsThreshold)
      .select($"v1", $"v2", $"l1", $"l2", round($"cos", 6).as("cos"))
      .orderBy($"v1", $"v2")
  }

  /** Label-filtered search: nearest same-label neighbor per vector —
    * the "find me more like this, within this class" pipeline query.
    * Exact form joins all pairs within a label (oracle baseline); with
    * `graft.sim.exact=false` the argmax runs over banded LSH candidates
    * filtered to the label — top-1 retrieval has no threshold to lean on,
    * so it gets the most recall-heavy shape, 32 single-plane hemispheres
    * (covers every vector's true same-label nearest at every SF;
    * tools/lsh_recall.py + ExactnessSpec).
    */
  def nearestSameLabel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, dir)
    // per-v1 argmax via arg_max_long (cos desc, v2 asc — identical to the
    // max_by(struct, struct) it replaced): flat primitive buffers keep the
    // plan a streaming HashAggregate; the struct-buffer form planned as
    // SortAggregate and sorted the Θ(n²/L) pair stream per partition,
    // spilling >90 GB at 250k vectors (SCALE.md round 7). The shuffle
    // still carries one row per (v1, partition), never the scored pairs.
    // pairs carry precomputed norms (n1, n2): the all-pairs legs score
    // Θ(n²/L) pairs, so cosPre's one-accumulator form is ~3× less per-pair
    // work than the cosine_sim kernel, bit-identically (see cosPre)
    def argmaxOf(pairs: DataFrame): DataFrame = pairs
      .withColumn("cos", cosPre("e1", "e2", "n1", "n2"))
      .groupBy($"v1", $"label")
      .agg(expr("arg_max_long(v2, cos)").as("b"))
    val en = e.withColumn("nrm", normCol)
    val best =
      if (exactSim(spark)) {
        val a = vecSide(en, "v1", "e1", "n1", "label" -> "label")
        val b = vecSide(en, "v2", "e2", "n2", "label" -> "label")
        argmaxOf(a.join(b, Seq("label")).filter($"v1" =!= $"v2"))
      } else {
        // per-label index: buckets pair within a label only (same coverage
        // for same-label pairs as a global index, ~|labels|× less volume).
        // Top-1 is duplicate-insensitive → the no-distinct scored form
        // ([[lshScoredNeighbors]]): cosine in the self-join stage, no
        // candidate distinct, no per-pair float joins (round 10)
        val (t, p) = bandShape(spark, "samelabel", defTables = 32, defPlanes = 1)
        val banded = lshScoredNeighbors(spark, dir, nTables = t, planesPerTable = p,
            within = Seq("label"), probeBits = probeBitsOf(spark, "samelabel", p))
          .groupBy($"v1", $"label")
          .agg(expr("arg_max_long(v2, cos)").as("b"))
        val key = "samelabel"
        val rescue = rescueOf(spark, key)
        if (rescue <= 0.0) banded
        else {
          // Rescue tier: top-1 retrieval has no threshold to hide behind —
          // a vector whose banded best lands BELOW `rescue` (or that got no
          // candidates at all) has a real chance its true neighbor was
          // missed, because low-cosine results and LSH misses are the same
          // population: isolated vectors (SCALE.md round 6/7 — d≤1 probing
          // saturates near 0.91 on the crossover corpus). Those vectors get
          // an exact per-label re-scan; everything the index answered
          // CONFIDENTLY (≥ rescue, where banded recall is near-total on a
          // shape-matched corpus) keeps its banded answer. Cost is the
          // quadratic tail only: |unresolved| × label-slice, and unresolved
          // is the isolated minority, tunable by the knob. Eager
          // localCheckpoint so the banded subtree runs once for both the
          // keep and the anti-join sides. NOTE the eager checkpoint makes
          // BUILDING this DataFrame run the banded subtree as Spark jobs —
          // construction is an action, not a free plan; callers that build
          // the query twice (the Harness `probe` subcommand per config) pay twice.
          //
          // NaN guard: Spark orders NaN greater than everything, so a NaN
          // banded score (zero-norm embedding → cosine 0/0) would pass
          // `>= rescue` and keep a meaningless answer; isnan() routes
          // degenerate scores into the rescued tail with the misses.
          val resolved = banded
            .filter($"b.score" >= rescue && !isnan($"b.score"))
            .localCheckpoint(true)
          // GUARD (round 8): the tier's premise — unresolved probes are
          // the isolated MINORITY — was previously unenforced, so a
          // mis-set floor on an LSH-hostile corpus silently broadcast
          // most of the corpus (a driver/executor-memory bomb). Both
          // counts are cheap here: `resolved` is already materialized and
          // the corpus count is a pruned parquet scan. Above the refusal
          // knob the tier fails loud, naming the advisor; between the
          // broadcast-safe bound and the knob it degrades to a shuffled
          // rescue join instead of a broadcast.
          val total = e.count()
          val unresolved = total - resolved.count()
          val frac = if (total == 0) 0.0 else unresolved.toDouble / total
          val maxFrac = rescueMaxFracOf(spark, key)
          if (frac > maxFrac) sys.error(
            f"rescue tier: $unresolved of $total vectors (${frac * 100}%.1f%% > " +
              f"graft.sim.rescue.maxfrac.$key=$maxFrac%.2f) fell below the " +
              s"confidence floor graft.sim.rescue.$key=$rescue — the banded " +
              "index shape does not fit this corpus. Re-shape with " +
              s"BandTuner.suggest (graft.sim.bands.$key / " +
              s"graft.sim.probe.$key), lower the rescue floor, or raise " +
              s"graft.sim.rescue.maxfrac.$key to accept a shuffled " +
              "(non-broadcast) rescue join.")
          // broadcast only while the tail honors the premise; a fatter
          // (but knob-accepted) tail ships through a shuffle join, which
          // is slower but cannot exhaust driver/executor memory. Safe to
          // hint: `resolved` is an eager localCheckpoint, so the broadcast
          // ships materialized rows, not a pending aggregation subtree.
          val probesBase = vecSide(
            en.join(resolved.select($"v1".as("vec_id")), Seq("vec_id"), "left_anti"),
            "v1", "e1", "n1", "label" -> "label")
          val probes =
            if (frac <= BroadcastSafeRescueFrac) broadcast(probesBase) else probesBase
          val tail = probes
            .join(vecSide(en, "v2", "e2", "n2", "label" -> "label"), Seq("label"))
            .filter($"v1" =!= $"v2")
          resolved.union(argmaxOf(tail))
        }
      }
    best
      .select($"v1".as("vec_id"), $"label", $"b.id".as("nearest"), round($"b.score", 6).as("cos"))
      .orderBy($"vec_id")
  }

  /** Rescue-tier knob, `graft.sim.rescue.<key>` = cosine confidence floor
    * below which a banded top-1 answer is re-derived exactly (0 = off, the
    * default). The two-tier contract: banded answers ≥ floor are kept,
    * everything else — including vectors with no candidates — pays the
    * exact label-slice scan. Recall for the rescued population is 1.0 by
    * construction; residual misses need BOTH a missed true neighbor AND a
    * spurious confident stand-in above the floor.
    */
  /** Broadcast-safety bound for the rescue tail — the engineering limit of
    * the "isolated minority" premise, independent of what fraction the
    * refusal knob accepts: past it the tail ships via shuffle join even
    * when the run is allowed to proceed, because broadcasting a
    * corpus-proportional set is a memory bomb at any knob setting.
    */
  val BroadcastSafeRescueFrac = 0.05

  /** Refusal knob, `graft.sim.rescue.maxfrac.<key>` = largest unresolved
    * fraction the rescue tier will run with (default
    * [[BroadcastSafeRescueFrac]]). Above it the tier fails with an error
    * naming [[BandTuner.suggest]] rather than paying a corpus-proportional
    * exact re-scan the advisor would have rejected; raising the knob past
    * the broadcast-safe bound swaps the broadcast for a shuffle join, so
    * accepting a fat tail costs time, never memory.
    */
  private[graft] def rescueMaxFracOf(spark: SparkSession, key: String): Double = {
    val raw = spark.conf.get(s"graft.sim.rescue.maxfrac.$key",
      BroadcastSafeRescueFrac.toString)
    val v = raw.toDoubleOption.getOrElse(sys.error(
      s"graft.sim.rescue.maxfrac.$key must be a fraction in [0, 1], got '$raw'"))
    require(v >= 0.0 && v <= 1.0,
      s"graft.sim.rescue.maxfrac.$key must be a fraction in [0, 1], got $v")
    v
  }

  private[graft] def rescueOf(spark: SparkSession, key: String): Double = {
    val raw = spark.conf.get(s"graft.sim.rescue.$key", "0")
    val v = raw.toDoubleOption.getOrElse(sys.error(
      s"graft.sim.rescue.$key must be a cosine in [0, 1), got '$raw'"))
    require(v >= 0.0 && v < 1.0,
      s"graft.sim.rescue.$key must be a cosine in [0, 1), got $v")
    v
  }

  val IvfCells = 16
  val NProbe = 2

  /** Per-row nearest-centroid argmax via the native [[graft.expr.BestCell]]
    * kernel — centroids are driver model state (k rows), so shipping them
    * inside the expression (primitive float[][] reference objects) lets
    * every corpus-side consumer compute its argmax per ROW instead of
    * exploding a (corpus × k) join and re-grouping. Ties go to the LOWEST
    * cent_id (ids sorted ascending + strict `>` in the kernel — same
    * contract as the `max_by (score, -id)` form this grew out of).
    *
    * History of this column (each step measured): r5 replaced the
    * broadcast-join + re-group corpus Exchange with an inline-literal
    * `array_max(transform(...))`; r6 replaced THAT with the native kernel,
    * because higher-order functions are codegen-fallback — the composed
    * argmax evaluated 16 interpreted cosine kernels over boxed literals
    * per corpus row, the same pathology `lsh_buckets` fixed for bucketing
    * (SCALE.md round 6). The kernel also hoists the k centroid norms out
    * of the per-row loop entirely.
    *
    * SIZE BOUND: the centroid matrix serializes into every task binary
    * (~4 bytes/float). Keep k·dim ≤ [[InlineCentroidFloatLimit]] (~4 MB);
    * above that, move the model into a real Spark broadcast variable read
    * by the expression. Enforced with a require so an oversized model
    * fails loud at plan build, not as a mysteriously slow stage.
    *
    * `private[graft]` so PlanSpec pins the PRODUCTION expression shape
    * (single-eval argmax) rather than a hand-copied replica that could
    * drift.
    */
  val InlineCentroidFloatLimit: Int = 1 << 20 // 1M floats ≈ 4 MB per task binary

  private[graft] def bestCellCol(cents: Seq[(Int, Seq[Float])], emb: Column): Column = {
    // fail loud on an empty model (the old join form silently returned an
    // empty result on an empty centroid table)
    require(cents.nonEmpty, "bestCellCol needs at least one centroid")
    val floats = cents.iterator.map(_._2.size.toLong).sum
    require(floats <= InlineCentroidFloatLimit,
      s"centroid model has $floats floats > task-binary bound " +
        s"$InlineCentroidFloatLimit (~4 MB): use a broadcast " +
        "variable-backed Expression for a model this large")
    val sorted = cents.sortBy(_._1)
    // model state rides as foldable literal args; the registry builder
    // unpacks them into the kernel's primitive arrays at analysis time
    call_function("best_cell", emb,
      typedLit(sorted.map(_._1)), typedLit(sorted.map(_._2)))
  }

  /** IVF probe plan shared by the first-K and k-means centroid variants.
    * Cell assignment is a per-row argmax over the inline centroid literal
    * ([[bestCellCol]]) — the corpus is NEVER shuffled: the old
    * broadcast-join + groupBy(vec_id) form moved every (vec_id, embedding)
    * row through an Exchange just to re-assemble what was computable in
    * place. The final search argmax is `arg_max_long` grouped by q_id —
    * a streaming partial→final HashAggregate, one row per (query,
    * partition) in the shuffle (the struct-buffer `max_by` it replaced
    * planned as SortAggregate; SCALE.md round 7). The
    * probe ranking stays a window: it runs on the tiny query side, not the
    * corpus.
    */
  private def ivfSearch(e: DataFrame, cents: Seq[(Int, Seq[Float])]): DataFrame = {
    import e.sparkSession.implicits._
    val inverted = e
      .withColumn("b", bestCellCol(cents, $"embedding"))
      // coalesce makes the join key provably non-null: without it the inner
      // join infers an IsNotNull(cell) filter whose predicate re-evaluates
      // the ENTIRE argmax expression below the Project — the k-kernel
      // argmax would run twice per corpus row (Filter/Project don't share
      // subexpressions). best_cell is null only when the embedding itself
      // is null (nullIntolerant), so -1 never appears on real rows.
      .select(coalesce($"b.cent_id", lit(-1)).as("cell"), $"vec_id", $"embedding")
    val centsDf = cents.toDF("cent_id", "cent")
    val q = e.filter($"vec_id" < 5).select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    val wP = Window.partitionBy($"q_id").orderBy($"csim".desc, $"cent_id")
    val probes = q.join(broadcast(centsDf))
      .withColumn("csim", expr("cosine_sim(q_emb, cent)"))
      .withColumn("rn", row_number().over(wP)).filter($"rn" <= NProbe)
      .select($"q_id", $"q_emb", $"cent_id".as("cell"))
    broadcast(probes).join(inverted, Seq("cell")).filter($"vec_id" =!= $"q_id")
      .withColumn("cos", expr("cosine_sim(q_emb, embedding)"))
      .groupBy($"q_id")
      // arg_max_long over max_by(struct,struct): streaming HashAggregate
      // instead of a SortAggregate over the probe×cell candidate stream
      .agg(expr("arg_max_long(vec_id, cos)").as("b"))
      .select($"q_id", $"b.id".as("nearest_ivf"), round($"b.score", 6).as("cos"))
      .orderBy($"q_id")
  }

  /** IVF (inverted-file) ANN — the other standard scale path next to LSH:
    * coarse-quantize every vector to its nearest of `IvfCells` centroids
    * (the inverted file, built once: a per-row argmax against the inline
    * centroid literal, no shuffle of the corpus), then each query probes
    * only its `NProbe` nearest cells. Search cost drops from O(n) per
    * query to O(n·nprobe/cells) with recall controlled by nprobe.
    *
    * Centroids here are DELIBERATELY the first `IvfCells` vectors, and
    * this is a pinned design decision, not a leftover (r10 verdict #4
    * adjudicated): first-K centroids are the ONLY centroid choice the
    * DuckDB oracle can rebuild bit-for-bit, which makes `sim_ann_ivf` the
    * one query where the ENTIRE IVF machinery — inverted-file assignment,
    * cell probing, in-cell search, tie-breaks — is hash-checked
    * end-to-end against an independent engine every round. Trained
    * centroids cannot be replayed exactly (float-iterative Lloyd rounds),
    * so the trained path [[annIvfKmeans]] necessarily downgrades its gate
    * row to a tolerance witness; routing THIS query through the trained
    * centroids would delete the exact-replay check without adding
    * coverage the witness doesn't already have. The two queries are a
    * pair by construction: identical plan shape (the centroids are a
    * broadcast literal either way), exact-replay oracle here, production
    * quantizer + recall witness there. DedupSimSpec asserts recall vs the
    * brute-force `sim_cosine_topk` baseline for both.
    */
  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, dir)
    // first-K placeholder centroids: k rows of driver model state, same
    // collect-to-driver convention as the trained k-means centroids
    val cents = e.filter($"vec_id" < IvfCells)
      .select($"vec_id", $"embedding").orderBy($"vec_id").collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Float](1))).toSeq
    ivfSearch(e, cents)
  }

  /** Default relative-improvement threshold for Lloyd convergence, and the
    * divide-guard floor under it — shared with KMeansSpec so the test pins
    * the SAME stopping rule the production default uses. */
  val KmTol = 1e-4
  val KmTolFloor = 1e-12

  /** Lloyd k-means coarse quantizer — the production centroid builder the
    * first-`IvfCells` placeholder in [[annIvf]] points at. Per round:
    * assignment is ONE narrow scan with a per-row argmax of k cosine sims
    * against the inline centroid literal ([[bestCellCol]] — no join, no
    * shuffle); the refit shuffles only (cell, dim) partial
    * sums (map-combined, ≤ k·dim·partitions rows in flight — corpus never
    * reshuffles); the k·dim result returns to the driver like any ML model
    * parameter (same shape as MLlib's treeAggregate loop). Means are
    * decimal-exact so centroids are bit-reproducible across partitionings.
    *
    * This is SPHERICAL k-means: the refit averages L2-NORMALIZED vectors
    * (the mean direction), which is the true maximizer of the cosine
    * objective for arbitrary input norms — a raw arithmetic mean would
    * weight each vector by its length and only coincide on unit-norm
    * inputs. cosine_sim is scale-invariant in the centroid, so on
    * unit-norm embeddings the two refits assign identically.
    *
    * SEEDING is k-means++-style but deterministic: one corpus scan draws an
    * md5-ordered oversample of `8·k` candidates to the driver (the k-means||
    * oversample-then-reduce shape — at 100 TB the sample, not the corpus,
    * comes back), then greedy farthest-first (Gonzalez) picks k mutually
    * spread candidates. No random stream, so an index built today matches
    * one built tomorrow. STOPPING is convergence-based: Lloyd rounds end
    * when the relative inertia improvement drops below `tol` (or at
    * `maxRounds`), so converged data doesn't pay for fixed extra scans.
    *
    * Returns (centroids, inertiaPerRound); inertia = Σ (1 - cos(v, cent(v))),
    * non-increasing over rounds — KMeansSpec asserts it.
    */
  def kmeansCentroids(spark: SparkSession, dir: String,
      k: Int = IvfCells, maxRounds: Int = 10,
      tol: Double = KmTol): (Seq[(Int, Seq[Float])], Seq[Double]) = {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    GraftFunctions.register(spark)
    // persist the training input: the seeding scan plus every Lloyd round
    // re-reads it (standard iterative-ML caching — MLlib's KMeans does the
    // same). At 100 TB this is the working-set cache a real deployment
    // sizes; locally it cuts one parquet scan per round. try/finally so a
    // failed round (or a corpus smaller than k in seeding) can't leave a
    // corpus-sized CacheManager entry pinned for the rest of the session.
    val e = Tables.embeddings(spark, dir).select($"vec_id", $"embedding").persist()
    try {
    var cents: Seq[(Int, Seq[Float])] =
      seedCentroids(e, k).zipWithIndex.map { case (c, i) => (i, c) }
    val inertias = scala.collection.mutable.ArrayBuffer.empty[Double]
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      // inertia rides the refit action as an observed metric, so each Lloyd
      // round is ONE pass over the corpus (assign → observe → refit) instead
      // of two (separate inertia action + refit action). At 100 TB that
      // halves the per-round scan cost; the price is that the final
      // (converged) round computes a refit that is then discarded, which is
      // one extra aggregation over the last assignment — cheap next to a
      // second full pass per round. Output is bit-identical to the two-pass
      // form: same inertia formula (decimal-exact sum via accumulator
      // merge), same stopping rule, and the discarded refit never touches
      // `cents`.
      //
      // Assignment is a per-row argmax over the inline centroid literal
      // ([[bestCellCol]]) — fully narrow. The only shuffle in a round is
      // the refit's map-combined (cell, dim) partial sums (≤ k·dim·
      // partitions rows); the corpus itself never moves.
      val obs = org.apache.spark.sql.Observation()
      val assigned = e
        .withColumn("b", bestCellCol(cents, $"embedding"))
        .select($"b.cent_id".as("cell"), $"vec_id", $"embedding", $"b.csim".as("csim"))
        .observe(obs,
          sum((lit(1.0) - $"csim").cast(DecimalType(28, 12))).cast("double").as("inertia"))
      // refit shape: two-level (cell, pos) → cell aggregation, KEPT after a
      // measured round-22 rejection of the one-level alternative (VERDICT
      // r21 item 3). Folding the refit into ONE groupBy(cell) with a
      // decimal sum + count pair per dimension does remove a shuffle and a
      // stage per round (profile: jobs 46 → 36) and is bit-identical
      // (decimal quantization is order-independent) — but 2·dim aggregate
      // expressions per round made Catalyst re-optimize a 128-expression
      // tree every Lloyd round and the query got SLOWER end-to-end (warmed
      // profile walls 5.3 s → 6.0–6.3 s at sf0.1; per-round driver gaps ate
      // the stage win). Shuffle BYTES are the same either way (the partial
      // aggregation collapses to k·dim rows per partition before the
      // exchange), so the one-level form buys nothing at 100 TB that the
      // map-combine doesn't already — reverted, guide §1.1 ("the fresh
      // ideal is usually slower; switch back to the empirical loop").
      val refit = assigned
        // mean DIRECTION: each vector contributes x/|v| (spherical k-means).
        // Zero-norm embeddings (failed encoders) have no direction and are
        // excluded — under ANSI mode x/0 would otherwise throw
        // DIVIDE_BY_ZERO and kill the training job (KMeansSpec witnesses
        // the zero-vector corpus).
        .withColumn("vnorm", expr("sqrt(dot_product(embedding, embedding))"))
        .filter($"vnorm" > 0)
        .select($"cell", $"vnorm", posexplode($"embedding").as(Seq("pos", "x")))
        .groupBy($"cell", $"pos")
        .agg((sum(($"x".cast("double") / $"vnorm").cast(DecimalType(28, 9))).cast("double") /
          count(lit(1))).as("m"))
        .groupBy($"cell")
        .agg(transform(array_sort(collect_list(struct($"pos", $"m"))),
          s => s.getField("m").cast("float")).as("cent"))
        .collect()
        .map(r => (r.getInt(0), r.getSeq[Float](1))).toMap
      // the observed sum is null iff ZERO rows flowed through the scan —
      // seedCentroids already requires ≥k nonzero embeddings, but make the
      // invariant local instead of letting a bare cast NPE obscure it
      val inertia = obs.get("inertia") match {
        case d: java.lang.Double => d.doubleValue()
        case other => sys.error(
          s"k-means round $round observed no rows (inertia=$other): empty training input")
      }
      inertias += inertia
      converged = inertias.size >= 2 && {
        val prev = inertias(inertias.size - 2)
        prev - inertia <= tol * math.max(prev, KmTolFloor)
      }
      if (!converged) {
        // a centroid that won zero vectors this round keeps its previous
        // position (standard empty-cluster handling) — k never shrinks
        cents = cents.map { case (id, old) => (id, refit.getOrElse(id, old)) }
      }
      round += 1
    }
    (cents, inertias.toSeq)
    } finally e.unpersist()
  }

  /** Deterministic k-means++-style seeds: md5-ordered oversample (one scan,
    * `8·k` rows to the driver — model-state scale, not corpus scale), then
    * greedy farthest-first over the sample. maxBy is deterministic (first
    * max wins) and the candidate order is pinned by (md5, vec_id), so the
    * seed set is reproducible across runs and partitionings.
    */
  private def seedCentroids(e: DataFrame, k: Int): Seq[Seq[Float]] = {
    import e.sparkSession.implicits._
    // zero-norm embeddings are excluded from the oversample: cosine distance
    // to the zero vector is undefined, and a NaN distance would win every
    // farthest-first comparison (NaN sorts above all reals), seeding a
    // degenerate centroid that NaN-poisons the whole assignment. Real
    // corpora do contain zero embeddings (failed encoders); they still get
    // ASSIGNED to cells downstream, they just can't seed one.
    val cand = e.where(expr("dot_product(embedding, embedding) > 0"))
      .withColumn("h", md5(concat(lit("kmseed:"), $"vec_id")))
      .orderBy($"h", $"vec_id").limit(8 * k)
      .select($"embedding").collect().map(_.getSeq[Float](0)).toIndexedSeq
    require(cand.size >= k, s"corpus has fewer than k=$k nonzero embeddings")
    def cosDist(a: Seq[Float], b: Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) 1.0 // defensive (unreachable post-filter): vs-zero ≙ orthogonal, never NaN
      else 1.0 - dot / math.sqrt(na * nb)
    }
    val chosen = scala.collection.mutable.ArrayBuffer(cand.head)
    // track each candidate's distance to its nearest chosen seed — O(n·k)
    val minDist = scala.collection.mutable.ArrayBuffer(cand.map(cosDist(_, cand.head)): _*)
    while (chosen.size < k) {
      val next = minDist.indices.maxBy(minDist)
      chosen += cand(next)
      var i = 0
      while (i < cand.size) {
        val d = cosDist(cand(i), cand(next))
        if (d < minDist(i)) minDist(i) = d
        i += 1
      }
    }
    chosen.toSeq
  }

  /** Raw k-means IVF ANN rows (q_id, nearest_ivf, cos) — the actual
    * retrieval output; KMeansSpec pins its recall vs brute force. */
  def annIvfKmeansRaw(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftFunctions.register(spark)
    val (km, _) = kmeansCentroids(spark, dir)
    ivfSearch(Tables.embeddings(spark, dir), km)
  }

  /** IVF ANN over k-means centroids — [[annIvf]] with the trained coarse
    * quantizer instead of the first-16 placeholder. Same plan shape (the
    * centroids are a broadcast literal either way). The trained centroids
    * have no engine-exact DuckDB replay (float-iterative Lloyd rounds), so
    * the gate row is a tolerance WITNESS instead of the raw ANN output:
    * per query, the brute-force exact nearest (independently recomputed by
    * the oracle, round-before-rank so a sub-ulp cosine divergence can't
    * flip it) plus one in-engine assertion that the k-means IVF probe
    * recovered an exact-top-3 neighbor for ≥3 of the 5 queries — the same
    * bound KMeansSpec pins, now hash-checked every round. The raw ANN rows
    * remain available via [[annIvfKmeansRaw]]; KMeansSpec exercises them.
    */
  def annIvfKmeans(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, dir)
    val ivf = annIvfKmeansRaw(spark, dir)
      .select($"q_id", $"nearest_ivf")
    // exact brute-force top-3 per query: broadcast query side, one codegen
    // corpus scan, bounded-heap cut — same shape as cosineTopK
    val q = e.filter($"vec_id" < 5).select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    val topk = udaf(new graft.functions.TopKAgg(3))
    val exact = e.select($"vec_id".as("c_id"), $"embedding".as("c_emb"))
      .join(broadcast(q), $"c_id" =!= $"q_id")
      .withColumn("cos", round(expr("cosine_sim(q_emb, c_emb)"), 6))
      .groupBy($"q_id")
      .agg(topk($"cos", $"c_id").as("top"))
      .select($"q_id", transform($"top", s => s.getField("key")).as("top3"))
    val hits = exact.join(ivf, Seq("q_id"))
      .select($"q_id", element_at($"top3", 1).as("exact_nearest"),
        array_contains($"top3", $"nearest_ivf").cast("int").as("hit"))
    val recallOk = hits.agg((sum($"hit") >= 3).as("recall3_ok"))
    hits.select($"q_id", $"exact_nearest").crossJoin(broadcast(recallOk))
      .orderBy($"q_id")
  }

  /** Symmetric per-vector int8 quantization — the compression step an
    * embedding store applies before indexing (4× smaller than float32,
    * SIMD-friendly dot products). scale = max|x|/127 per vector;
    * q_i = clamp(round(x_i/scale), ±127). Output is the quantization
    * audit a pipeline materializes: the scale, two integer checksums of
    * the quantized vector, and the cosine between the original and its
    * dequantization (scale-invariant, so computed against the raw int8
    * codes) — the per-vector fidelity number that decides whether int8 is
    * safe for a given corpus.
    *
    * Scale shape: purely narrow — one codegen scan, no shuffle, no join;
    * higher-order `transform`/`aggregate` over the array stay inside
    * whole-stage codegen. At 100 TB this is the ideal map-only operator.
    */
  /** Symmetric-int8 frame shared by [[quantizeInt8]] and
    * [[topkInt8Rescore]]: the input plus `emb` (double[]), `scale`
    * (max|x|/127) and `q` (clamped round(x/scale) as long[]). Narrow —
    * adds no shuffle to whatever consumes it.
    */
  private def int8Frame(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, dir)
      .withColumn("emb", transform($"embedding", _.cast("double")))
      .withColumn("scale",
        aggregate($"emb", lit(0.0), (s, x) => greatest(s, abs(x))) / 127.0)
      .withColumn("q", transform($"emb", x =>
        when($"scale" === 0.0, lit(0.0))
          .otherwise(least(greatest(round(x / $"scale", 0), lit(-127.0)), lit(127.0)))
          .cast("long")))
  }

  def quantizeInt8(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = int8Frame(spark, dir)
      .withColumn("qd", transform($"q", _.cast("double")))
    // explicit Σ folds (left-to-right over the array) on BOTH sides — the
    // oracle mirrors with list_dot_product so the 6dp rounding is the only
    // tolerance in play
    e.select(
        $"vec_id",
        round($"scale", 9).as("scale"),
        aggregate($"q", lit(0L), (s, x) => s + x).as("q_sum"),
        aggregate($"q", lit(0L), (s, x) => s + abs(x)).as("q_l1"),
        // explicit NULL for the zero vector: cos(0,0) is undefined, and the
        // engines' implicit behaviors diverge (Spark SQL div-by-zero → null,
        // DuckDB IEEE → NaN) — both sides CASE it to NULL instead
        when($"scale" === 0.0, lit(null).cast("double")).otherwise(round(
          aggregate(zip_with($"emb", $"qd", (a, b) => a * b), lit(0.0), (s, v) => s + v) /
            (sqrt(aggregate($"emb", lit(0.0), (s, v) => s + v * v)) *
             sqrt(aggregate($"qd", lit(0.0), (s, v) => s + v * v))), 6)).as("cos_q"))
      .orderBy($"vec_id")
  }

  val RescoreCandidates = 10

  /** Two-stage retrieval: int8-quantized scan then full-precision rescore —
    * the standard memory-bandwidth play (a 100 TB float32 corpus is 25 TB
    * as int8; the first pass streams a quarter of the bytes and the exact
    * kernel only ever sees `RescoreCandidates` rows per query). Stage 1
    * scores every candidate with the all-integer dot product (exact in
    * int64, scaled by the two per-vector scales) and keeps top-10 per query
    * via the bounded heap; stage 2 re-scores ONLY those pairs with float
    * cosine and emits top-3.
    *
    * The DuckDB oracle replays both stages — including the int8 codes and
    * the estimated-score ranking — so the gate checks the retrieval
    * mechanics, not merely that rescoring rescues the right answer.
    */
  def topkInt8Rescore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftFunctions.register(spark)
    val f = int8Frame(spark, dir)
    val qs = f.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"q".as("q_q"), $"scale".as("q_scale"))
    val est = f.select($"vec_id".as("c_id"), $"q".as("c_q"), $"scale".as("c_scale"))
      .join(broadcast(qs), $"c_id" =!= $"q_id")
      // int64 dot of the codes is exact; the double product with the two
      // scales is the same left-associated expression the oracle computes
      .withColumn("est",
        aggregate(zip_with($"q_q", $"c_q", (a, b) => a * b), lit(0L), (s, v) => s + v)
          .cast("double") * $"q_scale" * $"c_scale")
    val top10 = udaf(new graft.functions.TopKAgg(RescoreCandidates))
    val cand = est.groupBy($"q_id")
      .agg(top10($"est", $"c_id").as("top"))
      .select($"q_id", explode($"top").as("s"))
      .select($"q_id", $"s.key".as("c_id"))
    // full-precision rescore of the <= 5×10 survivors: candidates broadcast
    // into one corpus scan, queries broadcast in after
    val topk = udaf(new graft.functions.TopKAgg(3))
    Tables.embeddings(spark, dir).select($"vec_id".as("c_id"), $"embedding".as("c_emb"))
      .join(broadcast(cand), Seq("c_id"))
      .join(broadcast(Tables.embeddings(spark, dir).filter($"vec_id" < 5)
        .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))), Seq("q_id"))
      // round BEFORE ranking (both engines rank the same 6dp value, ties by
      // c_id) — a sub-ulp cosine divergence between Spark's codegen kernel
      // and DuckDB's list_cosine_similarity on a near-tie can't flip ranks
      .withColumn("cos", round(expr("cosine_sim(q_emb, c_emb)"), 6))
      .groupBy($"q_id")
      .agg(topk($"cos", $"c_id").as("top"))
      .select($"q_id", posexplode($"top"))
      .select($"q_id", ($"pos" + 1).cast("int").as("rank"),
        $"col.key".as("c_id"), $"col.score".as("cos"))
      .orderBy($"q_id", $"rank")
  }

  /** Per-label embedding centroids, element-wise — the class-centroid
    * builder behind IVF coarse quantizers and nearest-centroid classifiers.
    * posexplode → groupBy(label, pos) shuffles (dim × n_labels) partial
    * sums, map-combined; the mean is decimal-exact (float → double widen →
    * decimal sum → one division) so it's bit-reproducible across engines
    * and partitionings.
    */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    Tables.embeddings(spark, dir)
      .select($"label", posexplode($"embedding").as(Seq("pos", "x")))
      .groupBy($"label", $"pos")
      .agg((sum($"x".cast("double").cast(DecimalType(28, 9))).cast("double") /
        count(lit(1))).as("mean_x"))
      .select($"label", $"pos".cast("int").as("pos"), round($"mean_x", 6).as("mean_x"))
      .orderBy($"label", $"pos")
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_label_centroids" -> (labelCentroids _),
    "sim_cosine_topk" -> (cosineTopK _),
    "sim_ann_lsh" -> (annLsh _),
    "sim_ann_ivf" -> (annIvf _),
    "sim_ann_ivf_kmeans" -> (annIvfKmeans _),
    "sim_pairs_threshold" -> (pairsAboveThreshold _),
    "sim_nearest_same_label" -> (nearestSameLabel _),
    "sim_quantize_int8" -> (quantizeInt8 _),
    "sim_topk_int8_rescore" -> (topkInt8Rescore _))

  /** The 16 ann planes as a DuckDB VALUES list — the oracle replays the
    * exact bucketing. Safe because bucket signs have slack: min |dot| over
    * every (vector, plane) on the test data is 3.5e-4, ten orders above
    * double rounding (tools/lsh_recall.py measured it), so Spark's codegen
    * kernel and DuckDB's list_dot_product agree on every sign.
    */
  private lazy val planesSqlValues: String =
    hyperplanes.take(NPlanes).zipWithIndex.map { case (p, i) =>
      s"($i, [${p.map(v => if (v > 0) "1" else "-1").mkString(",")}]::DOUBLE[])"
    }.mkString(", ")

  override def oracle: Map[String, String] = Map(
    "sim_ann_lsh" ->
      s"""WITH planes(pid, plane) AS (VALUES $planesSqlValues),
         |b AS (
         |  SELECT e.vec_id, p.pid // $PlanesPerTable AS tbl,
         |    SUM(CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]), p.plane) > 0
         |             THEN 1 << (p.pid % $PlanesPerTable) ELSE 0 END) AS bucket
         |  FROM embeddings e, planes p
         |  GROUP BY e.vec_id, p.pid // $PlanesPerTable),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS v1, c.vec_id AS v2
         |  FROM b a JOIN b c ON a.tbl = c.tbl AND a.bucket = c.bucket
         |                   AND a.vec_id <> c.vec_id),
         |s AS (
         |  SELECT cand.v1, cand.v2,
         |    list_cosine_similarity(CAST(e1.embedding AS DOUBLE[]),
         |                           CAST(e2.embedding AS DOUBLE[])) AS cos
         |  FROM cand JOIN embeddings e1 ON e1.vec_id = cand.v1
         |            JOIN embeddings e2 ON e2.vec_id = cand.v2),
         |r AS (SELECT v1, v2, cos,
         |        ROW_NUMBER() OVER (PARTITION BY v1 ORDER BY cos DESC, v2) AS rn
         |      FROM s)
         |SELECT v1 AS vec_id, v2 AS nearest_in_bucket, ROUND(cos, 6) AS cos
         |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    "sim_ann_ivf" ->
      s"""WITH cents AS (
         |  SELECT vec_id AS cent_id, embedding AS cent FROM embeddings
         |  WHERE vec_id < $IvfCells),
         |inv0 AS (
         |  SELECT c.cent_id, e.vec_id, e.embedding,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
         |      list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
         |                             CAST(c.cent AS DOUBLE[])) DESC, c.cent_id) AS rn
         |  FROM embeddings e CROSS JOIN cents c),
         |inverted AS (
         |  SELECT cent_id AS cell, vec_id, embedding FROM inv0 WHERE rn = 1),
         |q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5),
         |pr0 AS (
         |  SELECT q.q_id, q.q_emb, c.cent_id,
         |    ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
         |      list_cosine_similarity(CAST(q.q_emb AS DOUBLE[]),
         |                             CAST(c.cent AS DOUBLE[])) DESC, c.cent_id) AS rn
         |  FROM q CROSS JOIN cents c),
         |probes AS (
         |  SELECT q_id, q_emb, cent_id AS cell FROM pr0 WHERE rn <= $NProbe),
         |s AS (
         |  SELECT p.q_id, i.vec_id,
         |    list_cosine_similarity(CAST(p.q_emb AS DOUBLE[]),
         |                           CAST(i.embedding AS DOUBLE[])) AS cos
         |  FROM probes p JOIN inverted i ON i.cell = p.cell AND i.vec_id <> p.q_id),
         |r AS (SELECT q_id, vec_id, cos,
         |        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
         |      FROM s)
         |SELECT q_id, vec_id AS nearest_ivf, ROUND(cos, 6) AS cos
         |FROM r WHERE rn = 1 ORDER BY q_id""".stripMargin,
    // exact_nearest is DuckDB's independent brute-force answer
    // (round-before-rank on both engines); recall3_ok is Spark's in-engine
    // assertion on the k-means IVF probe — see annIvfKmeans scaladoc
    "sim_ann_ivf_kmeans" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5),
        |s AS (SELECT q_id, e.vec_id AS c_id,
        |        ROUND(list_cosine_similarity(CAST(q_emb AS DOUBLE[]),
        |                                     CAST(e.embedding AS DOUBLE[])), 6) AS cos
        |      FROM q JOIN embeddings e ON e.vec_id <> q_id),
        |r AS (SELECT q_id, c_id,
        |        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rn
        |      FROM s)
        |SELECT q_id, c_id AS exact_nearest, true AS recall3_ok
        |FROM r WHERE rn = 1 ORDER BY q_id""".stripMargin,
    "sim_label_centroids" ->
      """SELECT label, CAST(i AS INT) AS pos,
        |  ROUND(CAST(SUM(CAST(CAST(embedding[i + 1] AS DOUBLE) AS DECIMAL(28,9))) AS DOUBLE)
        |        / COUNT(*), 6) AS mean_x
        |FROM embeddings, UNNEST(range(0, 64)) AS u(i)
        |GROUP BY label, i ORDER BY label, pos""".stripMargin,
    "sim_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5),
        |s AS (SELECT q_id, e.vec_id AS c_id,
        |        list_cosine_similarity(CAST(q_emb AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS cos
        |      FROM q JOIN embeddings e ON e.vec_id <> q_id),
        |r AS (SELECT q_id, c_id, cos,
        |        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rn
        |      FROM s)
        |SELECT q_id, CAST(rn AS INT) AS rank, c_id, ROUND(cos, 6) AS cos
        |FROM r WHERE rn <= 3 ORDER BY q_id, rank""".stripMargin,
    "sim_pairs_threshold" ->
      """SELECT a.vec_id AS v1, b.vec_id AS v2, a.label AS l1, b.label AS l2,
        |  ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cos
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.4
        |ORDER BY v1, v2""".stripMargin,
    "sim_quantize_int8" ->
      """WITH s AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
        |    list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) / 127.0 AS scale
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id, emb, scale,
        |    list_transform(emb, x -> CAST(CASE WHEN scale = 0 THEN 0
        |      ELSE least(greatest(round(x / scale), -127), 127) END AS BIGINT)) AS qv
        |  FROM s)
        |SELECT vec_id, ROUND(scale, 9) AS scale,
        |  CAST(list_sum(qv) AS BIGINT) AS q_sum,
        |  CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_l1,
        |  CASE WHEN scale = 0 THEN NULL ELSE
        |    ROUND(list_dot_product(emb, CAST(qv AS DOUBLE[])) /
        |      (sqrt(list_dot_product(emb, emb)) *
        |       sqrt(list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[])))), 6)
        |  END AS cos_q
        |FROM q ORDER BY vec_id""".stripMargin,
    "sim_topk_int8_rescore" ->
      s"""WITH s8 AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
         |    list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) / 127.0 AS scale
         |  FROM embeddings),
         |q8 AS (
         |  SELECT vec_id, emb, scale,
         |    list_transform(emb, x -> CAST(CASE WHEN scale = 0 THEN 0
         |      ELSE least(greatest(round(x / scale), -127), 127) END AS BIGINT)) AS qv
         |  FROM s8),
         |est AS (
         |  SELECT a.vec_id AS q_id, b.vec_id AS c_id,
         |    list_dot_product(CAST(a.qv AS DOUBLE[]), CAST(b.qv AS DOUBLE[]))
         |      * a.scale * b.scale AS est
         |  FROM q8 a JOIN q8 b ON a.vec_id < 5 AND b.vec_id <> a.vec_id),
         |cand AS (
         |  SELECT q_id, c_id FROM (
         |    SELECT q_id, c_id,
         |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY est DESC, c_id) AS rn
         |    FROM est) WHERE rn <= $RescoreCandidates),
         |r AS (
         |  SELECT cand.q_id, cand.c_id,
         |    list_cosine_similarity(CAST(e1.embedding AS DOUBLE[]),
         |                           CAST(e2.embedding AS DOUBLE[])) AS cos
         |  FROM cand JOIN embeddings e1 ON e1.vec_id = cand.q_id
         |            JOIN embeddings e2 ON e2.vec_id = cand.c_id),
         |t AS (SELECT q_id, c_id, ROUND(cos, 6) AS cos,
         |        ROW_NUMBER() OVER (PARTITION BY q_id
         |          ORDER BY ROUND(cos, 6) DESC, c_id) AS rn
         |      FROM r)
         |SELECT q_id, CAST(rn AS INT) AS rank, c_id, cos
         |FROM t WHERE rn <= 3 ORDER BY q_id, rank""".stripMargin,
    "sim_nearest_same_label" ->
      """WITH s AS (
        |  SELECT a.vec_id AS v1, a.label, b.vec_id AS v2,
        |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS cos
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND a.vec_id <> b.vec_id),
        |r AS (SELECT v1, label, v2, cos,
        |        ROW_NUMBER() OVER (PARTITION BY v1 ORDER BY cos DESC, v2) AS rn
        |      FROM s)
        |SELECT v1 AS vec_id, label, v2 AS nearest, ROUND(cos, 6) AS cos
        |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin)
}
