package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate detection for the training-data pipeline extension:
  * exact (hash groupBy), MinHash+LSH banding, SimHash, n-gram Jaccard.
  *
  * Scale design (the 100 TB posture):
  *  - signatures are pure map-side expression work (codegen'd, no UDFs);
  *  - candidate generation is ONE shuffle keyed on (band, band-signature)
  *    — the LSH banding trick — never an O(n²) cross join;
  *  - verification touches only candidate pairs (a self-join on the
  *    band buckets), each verified with an exact Jaccard on the
  *    deduplicated token sets.
  */
object TextDedup {

  private val PRIME = 2147483647L // 2^31 - 1, Mersenne

  /** Deterministic (a, b) coefficients for the MinHash permutation family
    * h_i(x) = (a_i * x + b_i) mod PRIME, seeded so plans are stable
    * across runs and sessions.
    */
  private def coeffs(numHashes: Int, seed: Long): Array[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(numHashes)((rnd.nextInt(Int.MaxValue - 1).toLong + 1L, rnd.nextInt(Int.MaxValue).toLong))
  }

  /** Distinct-token set column (the near-dup unit for this corpus). */
  def tokenSet(c: Column): Column = array_distinct(TextStats.tokens(c))

  /** Word n-gram shingles (distinct). */
  def shingles(c: Column, n: Int): Column =
    array_distinct(TextStats.ngrams(TextStats.tokens(c), n))

  /** Exact Jaccard between two array columns (on their distinct sets). */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b)).cast("double")

  /** Banded signature rows: (id, band, bsig, sz) — one row per (doc,
    * band). `sz` (the set size) rides along so candidate pairs can be
    * size-ratio-prefiltered before any array is shuffled.
    */
  private def bandedSigs(
      df: DataFrame,
      idCol: String,
      setCol: String,
      bands: Int,
      rows: Int,
      seed: Long
  ): DataFrame = {
    // Codegen-shape note (round-2 fix): the obvious formulation — one
    // projection holding bands×rows array_min(transform(...)) expressions
    // (256 at 16×16) — overflows Janino (InternalCompilerError in
    // BENCH_r01) and silently falls back to interpreted, 2-3× slower.
    // Instead: explode the band index FIRST, then compute each band's
    // `rows` minima per band-row with the permutation coefficients looked
    // up from two array literals. Codegen then emits one small nested
    // loop regardless of bands×rows. The token-hash array `__hs` is
    // materialized below the Generate, so it is computed once per doc,
    // not once per band. The key is one long (xxhash64 of the band's
    // minima) — an 8-byte join key; hash collisions are harmless because
    // exact verification follows.
    val cs = coeffs(bands * rows, seed)
    val aArr = typedLit(cs.map(_._1).toSeq)
    val bArr = typedLit(cs.map(_._2).toSeq)
    val base = transform(col(setCol), t => hash(t).cast("long"))
    df.select(col(idCol), size(col(setCol)).as("sz"), base.as("__hs"))
      .select(
        col(idCol),
        col("sz"),
        col("__hs"),
        explode(sequence(lit(0), lit(bands - 1))).as("band")
      )
      .select(
        col(idCol),
        col("sz"),
        col("band"),
        xxhash64(
          transform(
            // coefficient indices for this band: [band*rows, band*rows+rows)
            sequence(col("band") * rows, col("band") * rows + lit(rows - 1)),
            i =>
              array_min(
                transform(
                  col("__hs"),
                  h => pmod(element_at(aArr, i + 1) * h + element_at(bArr, i + 1), lit(PRIME))
                )
              )
          )
        ).as("bsig")
      )
  }

  /** LSH candidate pairs: self-join on the band key — the scalable form:
    * one shuffle on (band, bsig), bucket joins partition-local. Returns
    * distinct (id_a, id_b, sz_a, sz_b) with id_a < id_b, ALREADY
    * size-ratio-filtered: Jaccard >= t implies min(|A|,|B|)/max >= t, so
    * pairs failing the ratio are dropped before the distinct and before
    * any token array moves.
    */
  def lshCandidates(
      df: DataFrame,
      idCol: String,
      setCol: String,
      bands: Int = 8,
      rows: Int = 8,
      seed: Long = 1337L,
      sizeRatio: Double = 0.0
  ): DataFrame = {
    // eager: both self-join sides read `banded` (lazy: random 2-6x stalls)
    val banded = bandedSigs(df, idCol, setCol, bands, rows, seed)
      .transform(Place.materialized)
    val l = banded.select(col("band"), col("bsig"), col(idCol).as("id_a"), col("sz").as("sz_a"))
    val r = banded.select(col("band"), col("bsig"), col(idCol).as("id_b"), col("sz").as("sz_b"))
    l.join(r, Seq("band", "bsig"))
      .filter(col("id_a") < col("id_b"))
      .filter(
        least(col("sz_a"), col("sz_b")).cast("double") >=
          greatest(col("sz_a"), col("sz_b")).cast("double") * sizeRatio
      )
      .select("id_a", "id_b", "sz_a", "sz_b")
      .distinct()
  }

  /** Exact-duplicate classes over a frame of sorted sets, per block
    * (`Seq()` for one corpus-wide block): `reps` holds each distinct
    * (block, set) with its representative, the class's smallest id, as
    * `__rep`; `members` maps every id to its `__rep`. Classes are keyed
    * by the sorted set itself (no hash, no collision risk).
    */
  private def classes(
      sets: DataFrame,
      block: Seq[String],
      idCol: String,
      setCol: String
  ): (DataFrame, DataFrame) = {
    val reps = sets.groupBy((block :+ setCol).map(col): _*).agg(min(col(idCol)).as("__rep"))
    val members = sets.join(reps, block :+ setCol).select((block :+ "__rep" :+ idCol).map(col): _*)
    (reps, members)
  }

  /** All member pairs of the near-dup relation: (a) the pairs inside
    * each class — identical sets, jac = 1.0 exactly; (b) each verified
    * rep pair of `repPairs` (block, rep_a, rep_b, jac) expanded to its
    * classes' member pairs. Classes are disjoint, so there are no
    * self-pairs; orientation is normalized since member ids interleave
    * across classes.
    */
  private def memberPairs(
      members: DataFrame,
      repPairs: DataFrame,
      block: Seq[String],
      idCol: String
  ): DataFrame = {
    val bc = block.map(col)
    def side(rep: Column, id: String) = members.select(bc ++ Seq(rep, col(idCol).as(id)): _*)
    val intra = side(col("__rep"), "id_a")
      .join(side(col("__rep"), "id_b"), block :+ "__rep")
      .filter(col("id_a") < col("id_b"))
      .select(bc ++ Seq(col("id_a"), col("id_b"), lit(1.0).as("jac")): _*)
    val inter = repPairs
      .join(side(col("__rep").as("rep_a"), "__da"), block :+ "rep_a")
      .join(side(col("__rep").as("rep_b"), "__db"), block :+ "rep_b")
      .select(
        bc ++ Seq(
          least(col("__da"), col("__db")).as("id_a"),
          greatest(col("__da"), col("__db")).as("id_b"),
          col("jac")): _*
      )
    intra.unionByName(inter)
  }

  /** Full MinHash near-dup pipeline: candidates via LSH banding (with the
    * size-ratio prefilter), verified with exact token-set Jaccard >=
    * `threshold`, computed with ONE array_intersect
    * (|A∪B| = |A|+|B|−|A∩B|). Banding density should match the
    * threshold: 8×8 holds recall down to ~0.8; use 16×16 for 0.9+
    * (fewer mid-similarity candidates → far less join volume).
    */
  def nearDupsMinhash(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      bands: Int = 8,
      rows: Int = 8,
      shingleSize: Int = 1
  ): DataFrame = {
    // set unit: distinct tokens (shingleSize=1, right for tiny-vocab
    // corpora) or word n-gram shingles (order-sensitive near-dup)
    val setExpr = if (shingleSize <= 1) tokenSet(col(textCol)) else shingles(col(textCol), shingleSize)
    // EXACT-DUPLICATE COLLAPSE before any LSH: identical documents are
    // the common case in real corpora (20% here, classes up to ~5% of
    // the corpus), and a g-doc identical class lands g rows in EVERY
    // band bucket it touches — a g²·bands blowup in the band join for
    // pairs that need no LSH at all (identical sets ⇒ jac = 1.0 by
    // construction, recall 1.0 guaranteed).
    // eager: broadcast builds and main stages both read `sets`
    val sets = Place.materialized(df.select(col(idCol), sort_array(setExpr).as("toks")))
    val (reps, classMembers) = classes(sets, Seq(), idCol, "toks")
    // eager (r12): read by both intra-join sides and twice in the rep-pair
    // expansion; lazy, q27's same-code reps swung 3.0–14.0 s
    val members = Place.materialized(classMembers)
    // inter-class pairs: the LSH pipeline over DISTINCT sets only
    val repSets = reps
      .select(col("__rep").as(idCol), col("toks"))
      // eager (r12): read by lshCandidates and both verification sides
      .transform(Place.materialized)
    val cands = lshCandidates(repSets, idCol, "toks", bands, rows, sizeRatio = threshold)
      // spread: q27's array_intersect verification was a 5-task 1.2 s straggler stage (r15)
      .transform(Place.spread(_, col("id_a"), col("id_b")))
    val a = repSets.select(col(idCol).as("id_a"), col("toks").as("toks_a"))
    val b = repSets.select(col(idCol).as("id_b"), col("toks").as("toks_b"))
    val repPairs = cands
      .join(a, "id_a")
      .join(b, "id_b")
      .withColumn("inter", size(array_intersect(col("toks_a"), col("toks_b"))).cast("double"))
      .select(
        col("id_a").as("rep_a"),
        col("id_b").as("rep_b"),
        (col("inter") / (col("sz_a") + col("sz_b") - col("inter"))).as("jac")
      )
      .filter(col("jac") >= threshold)
    memberPairs(members, repPairs, Seq(), idCol)
  }

  /** The 100 TB dedup shape: per-document KEEP/DROP assignment with
    * LINEAR output (one row per doc), not the quadratic all-pairs audit.
    * A document's representative is the smallest doc id it shares any
    * LSH band bucket with (one-hop min-propagation — the standard
    * single-pass approximation of the connected-component closure).
    * Cost: one shuffle to min() per bucket + one to min() per doc.
    */
  def dedupAssignments(
      df: DataFrame,
      idCol: String,
      textCol: String,
      bands: Int = 16,
      rows: Int = 16,
      seed: Long = 1337L
  ): DataFrame = {
    // Exact-duplicate collapse (same as nearDupsMinhash): all members of
    // an identical-set class share every bucket, so banding runs over
    // one representative (the class min id) per distinct set. The
    // bucket-min over rep ids EQUALS the bucket-min over doc ids — the
    // minimum doc in a bucket is the min member of the minimal class,
    // which is that class's rep — so the output is identical to the
    // uncollapsed form, minus the g²·bands bucket blowup.
    val sets = df.select(col(idCol), sort_array(tokenSet(col(textCol))).as("toks"))
      .transform(Place.materialized) // eager: see nearDupsMinhash
    val (reps, members) = classes(sets, Seq(), idCol, "toks")
    val repSets = reps.select(col("__rep").as(idCol), col("toks"))
    val banded = bandedSigs(repSets, idCol, "toks", bands, rows, seed)
      .transform(Place.materialized) // eager: see lshCandidates
    val bucketMin = banded
      .groupBy(col("band"), col("bsig"))
      .agg(min(col(idCol)).as("bucket_min"))
    val repAssign = banded
      .join(bucketMin, Seq("band", "bsig"))
      .groupBy(col(idCol))
      .agg(min(col("bucket_min")).as("rep_id"))
      .select(col(idCol).as("__rep"), col("rep_id"))
    members
      .join(repAssign, "__rep")
      .select(col(idCol), col("rep_id"))
      .withColumn("is_kept", col("rep_id") === col(idCol))
  }

  /** The engine-native half of [[dedupAssignments]], exposed for the
    * round-5 generated oracle: the banded signature rows (rep id, band,
    * bsig) over one representative per distinct token set — exactly the
    * rows dedupAssignments feeds its bucket-min propagation. The hashes
    * (murmur3 token hash, xxhash64 band key) have no DuckDB equivalent,
    * so the oracle embeds THESE rows as literals and replays everything
    * downstream of them (collapse, min-propagation, member expansion,
    * audits) relationally.
    */
  def repBandedSigs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      bands: Int = 16,
      rows: Int = 16,
      seed: Long = 1337L
  ): DataFrame = {
    val sets = df.select(col(idCol), sort_array(tokenSet(col(textCol))).as("toks"))
    val (reps, _) = classes(sets, Seq(), idCol, "toks")
    val repSets = reps.select(col("__rep").as(idCol), col("toks"))
    bandedSigs(repSets, idCol, "toks", bands, rows, seed)
      .select(col(idCol), col("band"), col("bsig"))
  }

  /** Exact all-pairs token-set Jaccard — the O(n²) AUDIT baseline that
    * grounds the LSH paths (the text twin of the embedding-space q45):
    * never point it at a full corpus. Its job is recall measurement on a
    * bounded slice, where the quadratic pair count is affordable and an
    * ANSI-SQL oracle can verify every pair.
    */
  def nearDupsExact(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double
  ): DataFrame = {
    // spread: q146/q147's 12.5M intersect pairs ran single-threaded on one scan partition (r15)
    val sets = df
      .select(col(idCol), tokenSet(col(textCol)).as("toks"))
      .withColumn("sz", size(col("toks")))
      .transform(Place.spread(_, col(idCol)))
      .transform(Place.materialized) // eager: both cross-join sides race to fill this cache
    val a = sets.select(col(idCol).as("id_a"), col("toks").as("toks_a"), col("sz").as("sz_a"))
    val b = sets.select(col(idCol).as("id_b"), col("toks").as("toks_b"), col("sz").as("sz_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("inter", size(array_intersect(col("toks_a"), col("toks_b"))).cast("double"))
      .select(
        col("id_a"),
        col("id_b"),
        (col("inter") / (col("sz_a") + col("sz_b") - col("inter"))).as("jac")
      )
      .filter(col("jac") >= threshold)
  }

  /** 64-bit SimHash over the token set: per bit, majority vote of the
    * token hashes' bits (+1/-1), folded into one long. Pure nested
    * higher-order-function expression — no UDF, fully distributed.
    */
  def simhash64(setCol: Column): Column =
    aggregate(
      transform(
        sequence(lit(0), lit(63)),
        b =>
          when(
            aggregate(
              // xxhash64, not murmur3-32: all 64 signature bits carry signal
              transform(setCol, t => xxhash64(t)),
              lit(0L),
              // shiftright/shiftleft via call_function: the Scala API wants
              // an Int literal but the bit index is a lambda variable.
              (acc, h) =>
                acc + when(call_function("shiftright", h, b).bitwiseAND(lit(1L)) === 1L, 1L)
                  .otherwise(-1L)
            ) > 0,
            call_function("shiftleft", lit(1L), b)
          ).otherwise(lit(0L))
      ),
      lit(0L),
      (acc, x) => acc.bitwiseOR(x)
    )

  /** Hamming distance between two simhash longs. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b)).cast("int")

  /** N-gram Jaccard near-dups with block-local pairing: pairs are only
    * formed inside `blockCol` groups (e.g. source), keeping the join
    * partition-local instead of O(n²) global.
    */
  def nearDupsNgram(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: String,
      n: Int,
      threshold: Double
  ): DataFrame = {
    // Exact-duplicate collapse per block (see nearDupsMinhash): docs
    // with identical shingle sets pair at jac = 1.0 by identity; the
    // pairwise verification runs over one representative per class.
    val sets = df.select(
      col(blockCol),
      col(idCol),
      sort_array(shingles(col(textCol), n)).as("sh")
    ).withColumn("sz", size(col("sh")))
      .transform(Place.materialized) // eager: the consumers below race to fill this cache
    val (reps, classMembers) = classes(sets, Seq(blockCol), idCol, "sh")
    val members = Place.materialized(classMembers)
    // inter-class pairs over representatives only.
    // Phase 1: pair NARROW rows (block, rep, size) — the shingle arrays
    // stay out of the O(pairs) join. The size-ratio prefilter (jac >= t
    // forces min/max size >= t) rejects most pairs here.
    val repSets = reps
      .select(col(blockCol), col("__rep"), col("sh"), size(col("sh")).as("sz"))
      .transform(Place.materialized)
    val na = repSets.select(col(blockCol), col("__rep").as("rep_a"), col("sz").as("sz_a"))
    val nb = repSets.select(col(blockCol), col("__rep").as("rep_b"), col("sz").as("sz_b"))
    val pairs = na
      .join(nb, Seq(blockCol))
      .filter(col("rep_a") < col("rep_b"))
      .filter(
        least(col("sz_a"), col("sz_b")).cast("double") >=
          greatest(col("sz_a"), col("sz_b")).cast("double") * threshold
      )
    // Phase 2: attach arrays only for surviving pairs; ONE intersect,
    // union derived as |A|+|B|−|A∩B|.
    val a = repSets.select(col("__rep").as("rep_a"), col("sh").as("sh_a"))
    val b = repSets.select(col("__rep").as("rep_b"), col("sh").as("sh_b"))
    val repPairs = pairs
      .join(a, "rep_a")
      .join(b, "rep_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .select(
        col(blockCol),
        col("rep_a"),
        col("rep_b"),
        (col("inter") / (col("sz_a") + col("sz_b") - col("inter"))).as("jac")
      )
      .filter(col("jac") >= threshold)
    memberPairs(members, repPairs, Seq(blockCol), idCol)
  }
}
