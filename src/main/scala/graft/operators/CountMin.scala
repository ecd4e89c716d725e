package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-Min sketch (Cormode & Muthukrishnan 2005) as a RELATION —
  * the mergeable fixed-size frequency summary a 100 TB pipeline uses
  * where an exact `groupBy(key)` would shuffle the full key universe:
  * feed rate limiting, candidate heavy-hitter detection, join-side
  * frequency hints for skew handling.
  *
  * The sketch is a (row, cell, c) DataFrame of at most depth×width
  * rows. Build is ONE aggregation: the corpus explodes ×depth (one
  * hashed cell per sketch row), then map-side partial aggregation
  * compresses every partition to ≤ depth×width cells before the
  * shuffle — the reduce moves sketch-sized state, never corpus-sized
  * (the whole point at scale). Merging sketches of two corpora is
  * union + re-aggregate, proven ≡ sketching the concatenation
  * (`CountMinSpec`); estimates are one-sided (est ≥ true count,
  * overestimate bounded by collisions).
  *
  * Hashing: ONE md5 per key occurrence, each sketch row taking a
  * disjoint 8-hex-digit slice (`substr(md5(key), 8i+1, 8) mod
  * width`) — the engine-portable identity used across the library
  * (same value in DuckDB via `CAST(('0x' || substr(md5(k),..,8)) AS
  * BIGINT)`), so the oracle can replay the SKETCH ITSELF, not just
  * its contract.
  */
object CountMin {

  /** All `depth` sketch cells for `key`, as disjoint 8-hex-digit
    * slices of ONE md5 — one hash per key occurrence, not one per
    * sketch row (at 100M tokens the build is hash-bound; this
    * measured 24.5 → ~8 s at depth 4). 8 hex digits < 2³² keeps the
    * conv result non-negative, so `% width` needs no sign fix; CSE
    * inside whole-stage codegen computes the md5 once for all
    * slices. 128 md5 bits / 32 per slice caps depth at 4 — enough
    * for the standard e⁻⁴ ≈ 2% failure probability; deeper sketches
    * trade nothing useful for a second hash.
    */
  def cellsOf(key: Column, depth: Int, width: Int): Column = {
    val h = md5(key)
    array((0 until depth).map(i =>
      conv(substring(h, i * 8 + 1, 8), 16, 10).cast("long") % width): _*)
  }

  /** Build the sketch over `df(keyCol)`: one row per touched
    * (row, cell), `c` = number of key occurrences hashing there.
    */
  def build(df: DataFrame, keyCol: String, depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && depth <= 4 && width >= 2,
      s"bad sketch shape ${depth}x$width (depth caps at 4: 32 md5 bits per row)")
    df.select(posexplode(cellsOf(col(keyCol).cast("string"), depth, width))
        .as(Seq("row", "cell")))
      .groupBy("row", "cell").agg(count(lit(1)).as("c"))
  }

  /** Upper bound on the HEAVIEST key's true count — without knowing
    * which key it is: for every key k and sketch row r,
    * true(k) ≤ cell_r(h_r(k)) ≤ max_cell(r), so the minimum over rows
    * of the row-max bounds every key from above. One sketch-sized
    * aggregate; 0 for an empty sketch. This is the probe that lets a
    * skew-aware planner SKIP hot-key detection entirely when the
    * bound already clears the threshold (the common, unskewed case) —
    * [[SkewJoin.sketchPlannedJoin]]'s fast path rides it.
    */
  def heaviestKeyBound(sketch: DataFrame): Long =
    sketch.groupBy(col("row")).agg(max(col("c")).as("m"))
      .agg(coalesce(min(col("m")), lit(0L))).head().getLong(0)

  /** Merge sketches built with the SAME shape: union + cell-wise sum.
    * (Associative and commutative — the property that lets per-day /
    * per-partition sketches roll up without touching raw data.)
    */
  def merge(sketches: Seq[DataFrame]): DataFrame = {
    require(sketches.nonEmpty, "nothing to merge")
    sketches.foreach(s => require(
      s.columns.toSet == Set("row", "cell", "c"),
      s"not a sketch relation: ${s.columns.mkString(",")}"))
    sketches.reduce(_ unionByName _)
      .groupBy("row", "cell").agg(sum(col("c")).as("c"))
  }

  /** Join-size estimate from two sketches of the SAME shape — the CM
    * inner-product estimator (Cormode & Muthukrishnan 2005 §4.2): for
    * an equi-join A ⋈ B on the sketched key, |result| = Σ_k
    * f_A(k)·f_B(k), and every sketch row's cell-wise dot product
    * Σ_cell a[cell]·b[cell] OVERestimates that sum (colliding keys
    * only add cross terms), so min over rows is a one-sided estimate:
    * est ≥ exact always. This is the planner-style cardinality probe
    * a 100 TB engine runs before choosing a join strategy — two
    * sketch-sized relations (≤ depth×width rows each, built earlier
    * or maintained incrementally via [[merge]]) answer "how big is
    * this join" without touching either input again.
    *
    * `depth` must be the common build shape: a row whose cells never
    * collide across the two sketches contributes dot = 0, and only
    * the 0..depth-1 spine makes that row's zero reach the min (an
    * inner-join-only version would silently drop it and overestimate).
    */
  def innerProduct(a: DataFrame, b: DataFrame, depth: Int): DataFrame = {
    require(depth >= 1 && depth <= 4, s"bad depth $depth (build caps at 4)")
    Seq(a, b).foreach(s => require(
      s.columns.toSet == Set("row", "cell", "c"),
      s"not a sketch relation: ${s.columns.mkString(",")}"))
    val dots = a.join(b.withColumnRenamed("c", "cb"), Seq("row", "cell"))
      .groupBy(col("row")).agg(sum(col("c") * col("cb")).as("dot"))
    a.sparkSession.range(depth).select(col("id").as("row"))
      .join(dots, Seq("row"), "left")
      .agg(min(coalesce(col("dot"), lit(0L))).as("est"))
  }

  /** Point estimates for `keys(keyCol)`: min over the key's depth
    * cells (the CM estimator). The sketch side BROADCASTS — it is at
    * most depth×width rows by construction — so probing never
    * shuffles the key set. Missing cells count 0 (a key whose every
    * cell is untouched was never seen).
    */
  def estimate(sketch: DataFrame, keys: DataFrame, keyCol: String,
      depth: Int, width: Int): DataFrame = {
    // same shape guard as build: depth 5 would slice past md5's 32 hex
    // digits into empty substrings and silently estimate 0 for every
    // key. A WIDTH mismatch against the sketch is undetectable from
    // the relation alone (cells are just longs) — callers must pass
    // the build-time shape, which the w22/t22 lifecycle does by
    // sharing the constants.
    require(depth >= 1 && depth <= 4 && width >= 2,
      s"bad sketch shape ${depth}x$width (depth caps at 4: 32 md5 bits per row)")
    keys.select(col(keyCol).cast("string").as("k")).distinct()
      .select(col("k"),
        posexplode(cellsOf(col("k"), depth, width)).as(Seq("row", "cell")))
      .join(broadcast(sketch), Seq("row", "cell"), "left")
      .groupBy("k")
      .agg(min(coalesce(col("c"), lit(0L))).as("est"))
  }
}
