package graft.operators

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Relational operator helpers that recur across the engine's query
  * surface: per-group top-k, wide→long reshape, sessionization, and
  * iterative transitive closure (the `stage_dependency` DAG from the
  * reference's ER model, `/root/reference/test.mmd:52-58`).
  */
object Relational {

  /** Round caps of [[transitiveClosure]] and [[connectedComponents]]. */
  val ClosureMaxIter = 12
  val ComponentsMaxIter = 25
  /** Node cap above which [[transitiveClosure]] refuses the quadratic output. */
  val ClosureMaxNodes = 100000L
  /** Edge counts up to which [[connectedComponents]], [[pageRank]] and the
    * DAG relaxations run as a driver loop over the collected edges. */
  val ComponentsLocalMaxEdges = 200000L
  val PageRankLocalMaxEdges = 100000L
  /** Rounds and damping factor of [[pageRank]]. */
  val PageRankIterations = 10
  val PageRankDamping = 0.85
  val DagLocalMaxEdges = 10000L
  /** Nodes up to which [[descendantCounts]] keeps exact bitsets. */
  val DescendantsExactMaxNodes = 1 << 12

  /** An `eligible` edge table's rows if it holds at most `max`: ONE job
    * decides a small-graph gate and fetches the graph. Mixed src/dst
    * endpoint types are never eligible — the distributed loop's union
    * widens them, while a fast path's single node type would silently
    * NARROW the wider endpoint's ids (a long dst wrapped into an int
    * schema derived from src alone) and an Any-keyed index would split
    * 1 ≠ 1L into two nodes. */
  private def smallGraph(edges: DataFrame, max: Long,
      eligible: Boolean): Option[Array[Row]] =
    if (!eligible || edges.schema(0).dataType != edges.schema(1).dataType) None
    else Some(edges.limit(math.min(max, Int.MaxValue - 1L).toInt + 1).collect())
      .filter(_.length <= max)

  /** A small-graph fast path's driver-computed rows as a one-partition frame. */
  private def driverFrame(like: DataFrame, rows: Seq[Row], fields: StructField*): DataFrame = {
    val spark = like.sparkSession
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), StructType(fields))
  }

  /** Top-k rows per group, deterministic via explicit tie-break columns.
    * One shuffle (the window partition); with AQE this is the canonical
    * scalable "first-match" (reference `/root/reference/test.py:163-164`).
    * Spark bounds the shuffle itself: its `InferWindowGroupLimit` rule
    * plans the `row_number() <= k` filter as `WindowGroupLimit` Partial
    * below the exchange and Final above it, so each input partition
    * sends at most k rows per group, for k below
    * `spark.sql.optimizer.windowGroupLimitThreshold` (1000).
    */
  def topKPerGroup(df: DataFrame, partitionCols: Seq[Column], orderCols: Seq[Column], k: Int,
      rankName: String = "rank"): DataFrame = {
    val w = Window.partitionBy(partitionCols: _*).orderBy(orderCols: _*)
    df.withColumn(rankName, row_number().over(w)).filter(col(rankName) <= k)
  }

  /** Global `COUNT(DISTINCT k)` for several keys (plus an optional plain
    * row count) via RE-AGGREGATION instead of the built-in
    * multi-distinct plan. Spark plans n distinct aggregates over one
    * relation with an Expand that replicates EVERY input row n× (one
    * null-padded copy per distinct group) before the partial aggregate —
    * the hash map and shuffle both carry n·rows entries, which is the
    * one super-linear-feeling stage the sf1 sweep surfaced (q02: 8.8×
    * wall at 10× data). This form runs one TWO-LEVEL aggregation per
    * key — map-side partial distinct over a single column-pruned scan,
    * then a partial count — so each job's shuffle carries only that
    * key's per-partition distinct values, and the n one-row results
    * combine with driver-free cross joins (a broadcast nested loop of
    * single rows). n separate column scans beat one scan expanded n×
    * because parquet prunes to exactly one column per job.
    * NULLs are excluded per ANSI `COUNT(DISTINCT ...)`.
    *
    * ASSUMES a column-prunable source: the k+1 jobs each re-scan the
    * input, which is the win when each scan prunes to one parquet
    * column but multiplies the upstream work k+1× when the input is a
    * DERIVED plan (downstream of a join/agg). For a derived or
    * already-cached input, persist it first — or prefer the built-in
    * multi-distinct Expand, whose single pass is then the cheaper
    * shape.
    */
  def distinctCounts(df: DataFrame, rowCountAs: Option[String],
      keys: (String, String)*): DataFrame = {
    require(keys.nonEmpty, "distinctCounts: need at least one key")
    val perKey = keys.map { case (c, alias) =>
      df.select(col(c)).where(col(c).isNotNull)
        .distinct() // plans as a partial-final aggregate on the key
        .agg(count(lit(1)).as(alias))
    }
    val head = rowCountAs.map(a => df.agg(count(lit(1)).as(a)))
    (head.toSeq ++ perKey).reduce(_.crossJoin(_))
  }

  /** Gaps-and-islands sessionization: a new session starts when the gap to
    * the previous event of the same key exceeds `gapMicros`. Output adds
    * `session_id` (1-based per key). Integer arithmetic only — exactly
    * reproducible. Two stacked windows, one shuffle (same partitioning).
    */
  def sessionize(df: DataFrame, keyCol: Column, tsMicrosCol: Column, gapMicros: Long,
      orderTieBreak: Column): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(tsMicrosCol.asc, orderTieBreak.asc)
    val newSess = when(
      tsMicrosCol - lag(tsMicrosCol, 1).over(w) > gapMicros || lag(tsMicrosCol, 1).over(w).isNull, 1L)
      .otherwise(0L)
    df.withColumn("__new", newSess)
      .withColumn("session_id",
        sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__new")
  }

  /** Point-in-interval range join (the IP-to-geo / price-to-bracket
    * lookup): every point row matches the range rows with
    * `lo <= point < hi`. Spark's native answer to an inequality-only
    * join predicate is BroadcastNestedLoopJoin — O(points × ranges)
    * comparisons even when broadcast — so this instead QUANTIZES the
    * predicate into an equi-join: ranges explode to the fixed-width
    * buckets they overlap, points compute their single bucket, the join
    * is a hash equi-join on bucket, and the exact `[lo, hi)` filter on
    * the (few) bucket-collisions removes quantization slack. Overlapping
    * ranges are supported (a point matches each containing range).
    *
    * `bucketWidth` trades fan-out for selectivity: explode factor is
    * ~(range span / width) per range row, probe-side collisions shrink
    * as width shrinks. Ranges tables are small in practice (geo DBs,
    * bracket tables) — the exploded side broadcasts, and the points
    * side never shuffles at all.
    *
    * Bounds must be INTEGRAL (the `hi − 1` top-bucket arithmetic and
    * the `div` bucketing are exact only then — a fractional `hi` would
    * silently drop its last partial bucket); points may be any numeric
    * (bucketed by their floor, compared exactly in the residual).
    * Bucketing is integral `div` end to end — `/` would route ~2^60
    * nanosecond timestamps through a double and mis-bucket near bucket
    * boundaries, the exact trap Tables.events documents. `div` is
    * monotone, and both sides use it, which is all containment needs.
    * Degenerate ranges (`hi <= lo`) produce zero rows instead of a
    * descending `sequence` exploding (lo−hi)/width spurious build rows.
    */
  def rangeJoin(points: DataFrame, pointCol: String, ranges: DataFrame,
      loCol: String, hiCol: String, bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    require(!points.columns.contains("__b") && !ranges.columns.contains("__b"),
      "__b is reserved by rangeJoin")
    def integral(df: DataFrame, c: String): Boolean = df.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    require(integral(ranges, loCol) && integral(ranges, hiCol),
      s"range bounds $loCol/$hiCol must be integral (byte/short/int/long)")
    val b = broadcast(ranges
      .filter(col(hiCol) > col(loCol))
      .withColumn("__b", explode(sequence(
        expr(s"`$loCol` div $bucketWidth"),
        expr(s"(`$hiCol` - 1) div $bucketWidth")))))
    points
      .withColumn("__b", expr(s"CAST(FLOOR(`$pointCol`) AS BIGINT) div $bucketWidth"))
      .join(b, Seq("__b"))
      .filter(col(pointCol) >= col(loCol) && col(pointCol) < col(hiCol))
      .drop("__b")
  }

  /** `Dataset.localCheckpoint()` pins an INTERNAL RDD at the block-manager
    * level; the returned Dataset has no CacheManager entry, so its
    * `unpersist()` is a silent no-op and the blocks stay pinned until
    * driver GC — a leak that compounds across iterations on a long-lived
    * session. The pinned RDD is exactly the one the checkpoint Dataset's
    * `LogicalRDD` wraps — read its id off the analyzed plan (NOT a
    * before/after diff of `getPersistentRDDs`, which would misattribute
    * RDDs persisted by CONCURRENT query threads — e.g. two iterative
    * graph drivers running in parallel — and release blocks that are
    * still live).
    */
  private[graft] def localCheckpointTracked(df: DataFrame): (DataFrame, Set[Int]) = {
    val cp = df.localCheckpoint() // eager: materialized before we return
    val ids = cp.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.toSet
    (cp, ids)
  }

  private[graft] def releasePinned(sc: SparkContext, ids: Set[Int]): Unit =
    ids.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))

  /** Re-home a (possibly checkpoint-backed) result onto the CacheManager
    * so the CALLER's plain `unpersist()` works, then drop the checkpoint
    * blocks it was built from. Materializes the cache first — the
    * truncated-lineage snapshot cannot be recomputed once released
    * (MEMORY_AND_DISK then spills rather than drops under pressure).
    */
  private def rehomed(df: DataFrame, pinned: Set[Int]): DataFrame = {
    if (pinned.nonEmpty) {
      df.persist()
      df.count()
      releasePinned(df.sparkSession.sparkContext, pinned)
    }
    df
  }

  /** A [[fixpoint]] state: its frame, the checkpoint-pinned RDDs behind
    * it, and whether `release` may unpersist the frame. */
  private final case class Snapshot(df: DataFrame, pinned: Set[Int], owned: Boolean) {
    def release(): Unit = {
      if (owned) df.unpersist()
      releasePinned(df.sparkSession.sparkContext, pinned)
    }

    /** `f(df)` as the caller's result, freed by the caller's plain
      * `unpersist()`: the snapshot itself is [[rehomed]]; any other frame
      * is cached, and materialized BEFORE the snapshot it reads is
      * released. With nothing to release (not owned, nothing pinned) the
      * snapshot stays live, so the result is not counted. */
    def handBack(f: DataFrame => DataFrame): DataFrame = {
      val out = f(df)
      if (out eq df) rehomed(df, pinned)
      else {
        out.persist()
        if (owned || pinned.nonEmpty) out.count()
        release()
        out
      }
    }
  }

  /** The snapshot lifecycle of a converging graph loop, kept here once for
    * the iterative operators below. From the persisted `seed`, round `i`
    * (at most `maxRounds` of them) snapshots `step(state, i)`:
    *   - persisted, or local-checkpointed when `cut(i)`: the checkpoint
    *     truncates the logical plan, which otherwise grows every round
    *     (doubles, for a self-join) until analysis and serialization
    *     dominate on deep graphs;
    *   - `converged(previous, next)` is the round's ONE probe job (beside
    *     a cut's checkpoint). A full (no limit) scan of `next`, it caches
    *     the snapshot completely BEFORE the previous one is dropped — a
    *     partial cache could not be recomputed once its parent is released;
    *   - the superseded snapshot is released, checkpoint-pinned blocks too.
    * The first converged round's snapshot (the same rows as the one before
    * it), else the last round's, comes back for [[Snapshot.handBack]].
    * `keepSeed` leaves the seed, which the steps keep reading, to the caller.
    */
  private def fixpoint(seed: DataFrame, maxRounds: Int, keepSeed: Boolean,
      cut: Int => Boolean)(step: (DataFrame, Int) => DataFrame)(
      converged: (DataFrame, DataFrame) => Boolean): Snapshot = {
    var cur = Snapshot(seed, Set.empty, owned = !keepSeed)
    var round = 0
    var done = false
    while (round < maxRounds && !done) {
      val stepped = step(cur.df, round)
      val next =
        if (cut(round)) {
          val (cp, pinned) = localCheckpointTracked(stepped)
          Snapshot(cp, pinned, owned = true)
        } else Snapshot(stepped.persist(), Set.empty, owned = true)
      done = converged(cur.df, next.df)
      cur.release()
      cur = next
      round += 1
    }
    cur
  }

  /** Backward as-of join: every left row picks the LATEST right row of
    * the same key whose timestamp is <= the left timestamp, left-outer —
    * unmatched left rows carry nulls. Output = all left columns, then all
    * non-key right columns (caller renames right columns beforehand if
    * they collide with the left's).
    *
    * Scale shape — this is NOT a join at all: both sides are union'd,
    * hash-partitioned by key, sorted by (ts, side), and each left row
    * reads the last preceding right payload via `last(ignoreNulls)` over
    * a running row frame. ONE shuffle of |L|+|R| rows and a sort —
    * versus the BroadcastNestedLoopJoin (or an exploding range join)
    * Spark would plan for the naive `ts <= ts` inequality. Per-key data
    * never has to fit in memory (window frame is running, not buffered),
    * so a hot key degrades to a big sort partition, not an OOM.
    *
    * Right rows must be unique per (key, ts) for a deterministic result
    * — pre-aggregate ties (e.g. `max_by`) at the call site, or pass
    * `rightTieBreak`: among right rows sharing a (key, ts), the LARGEST
    * tie-break value wins the match.
    *
    * Right payload column names must not collide with left columns —
    * enforced eagerly (a silent duplicate-name schema would only fail
    * later, at first downstream column resolution).
    */
  def asofJoin(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      leftTsCol: String, rightTsCol: String,
      rightTieBreak: Option[Column] = None): DataFrame =
    asofJoin(left, right, keyCols, leftTsCol, rightTsCol, strict = false, rightTieBreak)

  /** [[asofJoin]]; `strict` matches only right rows before the left timestamp. */
  private[graft] def asofJoin(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      leftTsCol: String, rightTsCol: String, strict: Boolean,
      rightTieBreak: Option[Column]): DataFrame = {
    val lCols = left.columns.toSeq
    val rPayloadCols = right.columns.toSeq.diff(keyCols)
    val collisions = lCols.intersect(rPayloadCols)
    require(collisions.isEmpty,
      s"asofJoin: right payload column(s) ${collisions.mkString(", ")} collide with left " +
        "columns — rename them on the right side before joining")
    val lType = left.select(struct(lCols.map(col): _*).as("s")).schema.head.dataType
    val rType = right.select(struct(rPayloadCols.map(col): _*).as("s")).schema.head.dataType
    val tieType = rightTieBreak.map(t => right.select(t.as("t")).schema.head.dataType)
    // side ordering encodes the <= vs < boundary: inclusive → an
    // equal-ts right row sorts BEFORE the left row (0 < 1) and lands in
    // its frame; strict → it sorts after (2 > 1) and does not.
    val rightSide = if (strict) 2 else 0
    val l2 = left.select(
      keyCols.map(col) ++ Seq(
        col(leftTsCol).as("__ts"), lit(1).as("__side"),
        struct(lCols.map(col): _*).as("__l"), lit(null).cast(rType).as("__r")) ++
        tieType.map(dt => lit(null).cast(dt).as("__tie")): _*)
    // a NULL right timestamp can never satisfy ts_r <= ts_l, but ascending
    // nulls-FIRST ordering would sort such rows to the front of every key
    // partition where they'd win any left row with no real earlier match —
    // drop them before the union
    val r2 = right.where(col(rightTsCol).isNotNull).select(
      keyCols.map(col) ++ Seq(
        col(rightTsCol).as("__ts"), lit(rightSide).as("__side"),
        lit(null).cast(lType).as("__l"), struct(rPayloadCols.map(col): _*).as("__r")) ++
        rightTieBreak.map(_.as("__tie")): _*)
    // `last()` over the running frame naturally takes the max-ordered
    // row, so the tie-break sorts ascending and the largest value wins
    val ordering = Seq(col("__ts"), col("__side")) ++
      tieType.map(_ => col("__tie"))
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(ordering: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l2.unionByName(r2)
      .withColumn("__m", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(lCols.map(n => col(s"__l.$n")) ++ rPayloadCols.map(n => col(s"__m.$n")): _*)
  }

  /** Transitive closure of an edge table by iterated self-join doubling
    * (path-halving: frontier of length-≤2^i paths). Runs on the driver as
    * a loop of DataFrame jobs; each iteration is one shuffle join +
    * distinct. [[ClosureMaxIter]] rounds bound runaway graphs; the rounds
    * run through [[fixpoint]], which converges when a round adds no pair.
    *
    * USE ONLY when the (src, dst) PAIR LIST itself is the deliverable:
    * the output is quadratic in component size — a single 10^6-node
    * component materializes ~10^12 rows. Every aggregate over
    * reachability has a linear-state form instead: per-node descendant
    * counts → [[descendantCounts]] (backward bitset/HLL registers),
    * longest/critical path and reachable-set maxima → [[dagRelaxMax]],
    * clustering → [[connectedComponents]]. The `maxNodes` guard
    * ([[ClosureMaxNodes]] by convention) keeps the quadratic path from
    * being something a caller wanders into: node count is checked with
    * ONE narrow job before any closure work starts.
    */
  private[graft] def transitiveClosure(edges: DataFrame, srcCol: String, dstCol: String,
      maxNodes: Long): DataFrame = {
    val nNodes = edges.select(col(srcCol).as("n"))
      .union(edges.select(col(dstCol).as("n"))).distinct().count()
    require(nNodes <= maxNodes,
      s"transitiveClosure: $nNodes nodes exceeds maxNodes=$maxNodes. The closure is " +
        "QUADRATIC in component size; for descendant counts use descendantCounts, for " +
        "path/reachability aggregates use dagRelaxMax, for clustering use " +
        "connectedComponents.")
    val seed = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct().persist()
    var n = seed.count()
    fixpoint(seed, ClosureMaxIter, keepSeed = false, _ % 5 == 4) { (closure, _) =>
      closure.as("a")
        .join(closure.as("b"), col("a.dst") === col("b.src"))
        .select(col("a.src").as("src"), col("b.dst").as("dst"))
        .union(closure)
        .distinct()
    } { (_, next) =>
      val before = n
      n = next.count()
      n == before
    }.handBack(identity)
  }

  /** Connected components of an undirected graph: every node that appears
    * in `edges` is labeled with the MINIMUM node id reachable from it
    * (`(id, cluster_id)`; isolated nodes never appear — union them in at
    * the call site). Min-label propagation with pointer-jumping: each
    * iteration takes the min of a node's label and its neighbors' labels,
    * then compresses label chains by one hop (`label := label(label)`),
    * so convergence is O(log diameter) iterations rather than
    * O(diameter) — the difference between 4 rounds and 40 on the long
    * chains a near-dup corpus produces. Each ROUND (one driver-scheduled
    * action) advances TWO neighbor-min hops fused into a single job: the
    * edge table carries explicit self-loops, so the neighbor-min step
    * reads the label table exactly once (a node's own label arrives
    * through its (id, id) edge) and two hops compose without recomputing
    * the inner one. Halving the action count matters because at bench
    * scale the per-job driver overhead — not the shuffled bytes — is what
    * straggles under host contention. All shuffles are on the node id, no
    * step materializes anything larger than the edge list (unlike
    * [[transitiveClosure]], whose output is quadratic in component size —
    * never use TC for clustering).
    *
    * The rounds run through [[fixpoint]], which cuts lineage on the jump
    * rounds.
    *
    * [[ComponentsMaxIter]] bounds ROUNDS; every round advances ≥2 hops and
    * every third also pointer-jumps, so the reachable diameter for a given
    * budget is strictly larger than the previous one-hop-per-round form.
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    connectedComponents(edges, srcCol, dstCol, ComponentsLocalMaxEdges)

  /** [[connectedComponents]]; `localMaxEdges = 0` forces the distributed loop. */
  private[graft] def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      localMaxEdges: Long): DataFrame = {
    // small-graph fast path (broadcast-threshold reasoning, same as
    // dagRelaxMax): min-label propagation pays ~O(log diameter) scheduled
    // rounds of fixed driver cost; below the collect threshold a driver
    // union-find produces the IDENTICAL (id, min-reachable-id) labeling
    // in microseconds. Integral node ids only (the near-dup/sessionize
    // callers' shape) — anything else, or null endpoints, falls through
    // to the distributed loop. ~200k edges ≈ 3 MB collected, the same
    // order as a default broadcast-join build side.
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct().persist()
    try {
      val integral = e0.schema.forall(_.dataType match {
        case LongType | IntegerType | ShortType => true
        case _ => false
      })
      smallGraph(e0, localMaxEdges, integral) match {
        case Some(rows) if !rows.exists(r => r.isNullAt(0) || r.isNullAt(1)) =>
          val out = connectedComponentsLocal(
            rows.map(r => (r.get(0).asInstanceOf[Number].longValue,
              r.get(1).asInstanceOf[Number].longValue)))
          val nodeType = e0.schema.head.dataType
          val narrow: Long => Any = nodeType match {
            case IntegerType => l => l.toInt
            case ShortType => l => l.toShort
            case _ => l => l
          }
          return driverFrame(edges,
            out.map { case (id, cid) => Row(narrow(id), narrow(cid)) }.toSeq,
            StructField("id", nodeType, nullable = false),
            StructField("cluster_id", nodeType, nullable = false))
        case _ =>
      }
    } finally e0.unpersist()
    val sym = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .union(edges.select(col(dstCol).as("src"), col(srcCol).as("dst")))
      .distinct()
    // self-loop edges (one per node — every node appears as src in the
    // symmetric table) are what make `hop` single-reference over labels
    val symSelf = sym
      .union(sym.select(col("src"), col("src").as("dst")).distinct())
      .persist()
    // one neighbor-min hop; own label included via the self-loop row.
    // Alias-qualified references (not df("col")) so the fused plan — in
    // which symSelf appears on both sides of the join — resolves cleanly.
    def hop(l: DataFrame): DataFrame =
      symSelf.as("e").join(l.as("l"), col("e.dst") === col("l.id"))
        .groupBy(col("e.src")).agg(min(col("l.cid")).as("cid"))
        .withColumnRenamed("src", "id")
    // seed = the first hop folded into one aggregation (label_0 =
    // min(id, min neighbor)): diameter-2 components (the bulk of any
    // near-dup graph) then need a single confirming round
    val seed = symSelf.groupBy(col("src")).agg(min(col("dst")).as("cid"))
      .withColumnRenamed("src", "id").persist()
    // Round kinds, every plan reading only cached labels or a
    // once-referenced fused intermediate:
    //   hop∘hop   — two neighbor-min hops, one job;
    //   jump∘hop  — label := min(label, label(label)) (pointer jumping:
    //               halves label-chain depth, so long chains converge in
    //               O(log diameter) rounds) with a neighbor hop fused on
    //               top. The jump reads `labels` twice, but labels is
    //               always the cached snapshot, so nothing recomputes.
    // cadence: two fused-hop rounds, then a jump round, repeating.
    def isJump(round: Int) = round % 3 == 2
    val last = fixpoint(seed, ComponentsMaxIter, keepSeed = false, isJump) { (labels, round) =>
      if (isJump(round)) {
        val jumped = labels.as("a")
          .join(labels.as("b"), col("a.cid") === col("b.id"), "left")
          .select(col("a.id").as("id"),
            least(col("a.cid"), coalesce(col("b.cid"), col("a.cid"))).as("cid"))
        hop(jumped)
      } else hop(hop(labels))
    } { (labels, next) =>
      // Labels only ever decrease (hop includes self, jump takes least),
      // so a no-change round pins the whole sandwich L ≥ hop(L) ≥ L_new
      // to equality — hop(L) = L means both endpoints of every edge
      // already agree, i.e. the global fixpoint. Valid after jump rounds
      // too, for the same monotonicity reason.
      next.as("n")
        .join(labels.as("p"), col("n.id") === col("p.id"))
        .filter(col("n.cid") < col("p.cid")).count() == 0L
    }
    symSelf.unpersist()
    // the result is a pure rename of the last snapshot, so the CacheManager
    // dedupes a persist-backed snapshot and the result onto ONE entry:
    // unpersisting the snapshot would drop the result's cache, so its entry
    // passes to the caller (`owned = false`; pinned blocks still released),
    // already materialized by the last round's probe
    last.copy(owned = false).handBack(_.withColumnRenamed("cid", "cluster_id"))
  }

  /** Driver kernel of [[connectedComponents]]'s small-graph path:
    * classic union-find (path halving + union by attaching the larger
    * root id under the smaller), then every node labels with its root's
    * minimum id — exactly the distributed min-label fixpoint.
    */
  private def connectedComponentsLocal(edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val idx = scala.collection.mutable.LinkedHashMap.empty[Long, Int]
    def id(v: Long): Int = idx.getOrElseUpdate(v, idx.size)
    val pairs = edges.map { case (a, b) => (id(a), id(b)) }
    val n = idx.size
    val parent = Array.tabulate(n)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    pairs.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val values = idx.keys.toArray
    val minOfRoot = scala.collection.mutable.HashMap.empty[Int, Long]
    var i = 0
    while (i < n) {
      val r = find(i)
      val v = values(i)
      if (!minOfRoot.get(r).exists(_ <= v)) minOfRoot(r) = v
      i += 1
    }
    Array.tabulate(n)(i => (values(i), minOfRoot(find(i))))
  }

  /** Weighted longest-path relaxation over a DAG: for every node, the
    * maximum over all paths of the sum of edge weights reaching it
    * (floored at 0 — every node starts at 0 and values are only max'd
    * upward). One shuffle join + one aggregation per iteration; each
    * iteration extends paths by one edge, so [[dagRelaxMax]]'s default
    * `maxIter` must cover the DAG's depth.
    */
  def dagLongestPath(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String): DataFrame =
    dagRelaxMax(edges, srcCol, dstCol, Seq(weightCol -> "dist"))

  /** Fused multi-weight longest-path relaxation: ONE iterative driver
    * relaxes every weight column simultaneously (same join, one extra
    * `max` aggregate per weight), so callers that need several path
    * metrics over the same DAG — hop depth AND critical lag, say — pay
    * the per-round planning/codegen fixed cost once instead of once per
    * metric. `weights` maps an input edge-weight column to its output
    * distance column; each output is the max over all paths into the
    * node of the sum of that weight (floored at 0). Iterations stop when
    * EVERY metric is stable; the rounds run through [[fixpoint]], which
    * cuts lineage every 5th round.
    */
  def dagRelaxMax(edges: DataFrame, srcCol: String, dstCol: String,
      weights: Seq[(String, String)], maxIter: Int = 50,
      localMaxEdges: Long = DagLocalMaxEdges): DataFrame = {
    require(weights.nonEmpty, "dagRelaxMax: need at least one weight column")
    val outCols = weights.map(_._2)
    // parallel edges collapse per-weight to their max — the binding constraint
    val e = edges.select(col(srcCol).as("src") +: col(dstCol).as("dst") +:
        weights.map { case (w, o) => col(w).cast("long").as(s"__w_$o") }: _*)
      .groupBy("src", "dst")
      .agg(max(s"__w_${outCols.head}").as(s"__w_${outCols.head}"),
        outCols.tail.map(o => max(s"__w_$o").as(s"__w_$o")): _*)
      .persist()
    // small-graph fast path: the same broadcast-threshold reasoning as a
    // join — when the WHOLE edge table is tiny, an iterative driver
    // (one scheduled job + fresh codegen per round) is all fixed cost.
    // Collect once and relax round-SYNCHRONOUSLY (Jacobi, not
    // Gauss–Seidel) so a truncating maxIter sees bit-identical state to
    // the distributed loop. Spec-pinned equivalent on random DAGs.
    smallGraph(e, localMaxEdges, eligible = true) match {
      case Some(rows) =>
        val out = dagRelaxMaxLocal(rows, outCols.size, maxIter)
        e.unpersist()
        return driverFrame(edges, out.toSeq, StructField("node", e.schema.head.dataType) +:
          outCols.map(o => StructField(o, LongType, nullable = false)): _*)
      case None =>
    }
    val seed = e.select(col("src").as("node")).union(e.select(col("dst"))).distinct()
      .select(col("node") +: outCols.map(o => lit(0L).as(o)): _*).persist()
    val last = fixpoint(seed, maxIter, keepSeed = false, _ % 5 == 4) { (dist, _) =>
      dist.as("d").join(e, col("d.node") === col("src"))
        .select(col("dst").as("node") +:
          outCols.map(o => (col(o) + col(s"__w_$o")).as(o)): _*)
        .union(dist)
        .groupBy("node")
        .agg(max(outCols.head).as(outCols.head),
          outCols.tail.map(o => max(o).as(o)): _*)
    } { (dist, relaxed) =>
      relaxed.as("l").join(dist.as("r"), Seq("node"))
        .filter(outCols.map(o => col(s"l.$o") =!= col(s"r.$o")).reduce(_ || _))
        .count() == 0
    }
    e.unpersist()
    last.handBack(identity)
  }

  /** Driver kernel of [[dagRelaxMax]]'s small-graph path. Round-
    * synchronous (each round reads only the previous round's state) so a
    * truncating `maxIter` yields exactly the distributed loop's state;
    * null endpoints and null weights behave like the equi-join/max
    * semantics they mirror (edge inert; metric skipped).
    */
  private def dagRelaxMaxLocal(edgeRows: Array[Row], nMetrics: Int,
      maxIter: Int): Array[Row] = {
    val idx = scala.collection.mutable.LinkedHashMap.empty[Any, Int]
    def id(v: Any): Int = idx.getOrElseUpdate(v, idx.size)
    val edges = edgeRows.map { r =>
      val live = r.get(0) != null && r.get(1) != null
      val w = new Array[Long](nMetrics)
      val has = new Array[Boolean](nMetrics)
      var m = 0
      while (m < nMetrics) {
        if (!r.isNullAt(2 + m)) { w(m) = r.getLong(2 + m); has(m) = true }
        m += 1
      }
      (id(r.get(0)), id(r.get(1)), w, has, live)
    }
    val n = idx.size
    var cur = Array.fill(n)(new Array[Long](nMetrics))
    var iter = 0
    var changed = true
    while (iter < maxIter && changed) {
      val next = cur.map(_.clone())
      edges.foreach { case (s, d, w, has, live) =>
        if (live) {
          var m = 0
          while (m < nMetrics) {
            if (has(m)) {
              val cand = cur(s)(m) + w(m)
              if (cand > next(d)(m)) next(d)(m) = cand
            }
            m += 1
          }
        }
      }
      changed = false
      var i = 0
      while (i < n && !changed) {
        if (!java.util.Arrays.equals(next(i), cur(i))) changed = true
        i += 1
      }
      cur = next
      iter += 1
    }
    idx.iterator.map { case (v, i) =>
      Row.fromSeq(v +: cur(i).toIndexedSeq)
    }.toArray
  }

  /** Per-node DESCENDANT COUNTS of a DAG — how many distinct nodes are
    * reachable from each node — WITHOUT materializing the transitive
    * closure (whose output is quadratic in reachable pairs; see the
    * [[transitiveClosure]] scaladoc's own warning). A count needs only
    * per-node cardinalities, so this propagates a fixed-width
    * reachability REGISTER backward along edges:
    *
    *   reg(v) ← OR over edges v→u of (item(u) ∪ reg(u))
    *
    * O(V·register) state, O(longest-path) rounds, one equi-join + one
    * aggregation per round. Two register representations, picked by
    * graph size:
    *   - `|V| ≤` [[DescendantsExactMaxNodes]]: a dense BITSET (`array<long>` of
    *     ⌈V/64⌉ words; nodes ranked once). The per-word OR-merge is a
    *     plain `bit_or` aggregate per word — native, codegen'd, no UDAF
    *     — and counts are EXACT (`bit_count` popcounts).
    *   - larger graphs: a Datasketches HLL register per node
    *     (`hll_sketch_agg`/`hll_union_agg`, ~lgK-bounded bytes), giving
    *     approximate counts with bounded state no matter how large the
    *     reachable sets grow — the 100 TB lineage/citation-graph path.
    *
    * Output: (node, n_desc) for EVERY node in the edge table (sinks
    * carry 0). Registers only ever grow, so convergence = a round that
    * changes no register.
    */
  def descendantCounts(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 50): DataFrame =
    descendantCounts(edges, srcCol, dstCol, maxIter, DescendantsExactMaxNodes, DagLocalMaxEdges)

  /** [[descendantCounts]] with its exact/sketch and driver-loop size forks explicit. */
  private[graft] def descendantCounts(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int, exactMaxNodes: Int, localMaxEdges: Long): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct().persist()
    val nodes = e.select(col("src").as("node")).union(e.select(col("dst"))).distinct().persist()
    try {
      val v = nodes.count()
      if (v == 0) return nodes.select(col("node"), lit(0L).as("n_desc"))
      // small-graph fast path — see dagRelaxMax: the per-round job +
      // codegen fixed cost dwarfs a driver BitSet fixpoint on a tiny edge
      // list; only replaces the EXACT register path (the HLL path exists
      // precisely for graphs too big to collect)
      smallGraph(e, localMaxEdges, v <= exactMaxNodes) match {
        case Some(rows) =>
          return driverFrame(edges, descendantCountsLocal(rows, maxIter).toSeq,
            StructField("node", e.schema.head.dataType),
            StructField("n_desc", LongType, nullable = false))
        case None =>
      }
      // both paths hand back a persisted, materialized frame
      if (v <= exactMaxNodes) descendantCountsExact(e, nodes, v.toInt, maxIter)
      else descendantCountsSketch(e, nodes, maxIter)
    } finally { e.unpersist(); nodes.unpersist() }
  }

  /** Weighted PageRank with a FIXED iteration count — the
    * domain-authority / node-importance ranking a crawl-curation
    * pipeline runs over its link graph (CommonCrawl-style host ranking
    * is exactly this shape). Fixed iterations rather than an epsilon
    * test on purpose: the result is a deterministic closed-form
    * function of the edge table, so it is externally replayable
    * (q104's DuckDB oracle unrolls the same iterations) and costs no
    * per-round convergence action.
    *
    * Scale shape: the expensive part of real usage is aggregating a
    * petabyte event/link log down to the `(src, dst, weight)` edge
    * table — that is the caller's groupBy and stays fully distributed;
    * the iteration itself touches only node-and-edge-sized frames.
    * Each round is one equi-join of ranks to the out-normalized edges
    * + one sum-by-dst (shuffles on node id only), a left join back to
    * the node set (so sinks keep receiving mass), and a broadcast-able
    * one-row cross join carrying the dangling mass — nodes WITHOUT
    * out-edges redistribute their rank uniformly, the standard
    * correction, computed in-plan with no per-iteration driver action.
    * The whole run is ONE lazy plan; lineage is truncated every 8
    * rounds ([[localCheckpointTracked]]) so deep iteration counts
    * don't compound analysis cost.
    *
    * Output: `(node, rank)` for every node in the edge table; ranks
    * sum to 1. Null-endpoint edges are dropped (a null src/dst is not
    * a node); so are edges with null or non-positive weight (same
    * contract as the Efraimidis–Spirakis sampler — a w ≤ 0 transition
    * probability is undefined, and letting one through would make the
    * out-weight normalization NaN). A node ONLY touched by dropped
    * edges leaves the graph entirely. `weightCol = None` ranks the
    * unweighted graph.
    * Edge tables at or under [[PageRankLocalMaxEdges]] run the identical
    * recurrence as a driver loop (threshold-guarded fast path with
    * distributed fallback, the same split as [[descendantCounts]] /
    * [[dagRelaxMax]]).
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: Option[String] = None): DataFrame =
    pageRank(edges, srcCol, dstCol, weightCol, PageRankIterations, PageRankDamping,
      PageRankLocalMaxEdges)

  /** [[pageRank]] with the rounds and damping explicit; `localMaxEdges = 0`
    * forces the distributed path. */
  private[graft] def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: Option[String], iterations: Int, damping: Double,
      localMaxEdges: Long): DataFrame = {
    require(iterations >= 1, s"pageRank: iterations must be >= 1, got $iterations")
    val e = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(col(srcCol).as("src"), col(dstCol).as("dst"),
        weightCol.map(c => col(c).cast("double")).getOrElse(lit(1.0)).as("w"))
      .filter(col("w") > 0) // null/zero/negative weights: no transition
      .persist()
    try {
      // small-graph fast path — see dagRelaxMax/descendantCounts: after
      // the caller's log→graph aggregation the EDGE table is often tiny
      // (25 nations, a few thousand hosts) while the fixed-iteration
      // distributed loop pays ~4 shuffle stages per round in driver and
      // codegen fixed costs. Below the threshold, collect the edge list
      // and run the same recurrence as a driver loop (deterministic
      // accumulation order — edges sorted — so the result is
      // partition-invariant). BinaryType skips the fast path: collected
      // Array[Byte] ids compare by REFERENCE, which would shatter every
      // hash-digest node into per-edge singletons, silently and
      // differently per run. The distributed path compares them by value.
      val endpointType = e.schema.head.dataType
      smallGraph(e, localMaxEdges, localMaxEdges > 0 && endpointType != BinaryType) match {
        case Some(rows) =>
          val (nodeIds, ranks) = pageRankLocal(rows, iterations, damping)
          // a local relation, unlike the other fast paths' one-partition RDD
          return edges.sparkSession.createDataFrame(
            java.util.Arrays.asList(nodeIds.indices.map(i => Row(nodeIds(i), ranks(i))): _*),
            StructType(Seq(StructField("node", endpointType),
              StructField("rank", DoubleType, nullable = false))))
        case None =>
      }
      pageRankDistributed(e, iterations, damping)
    } finally e.unpersist()
  }

  /** Driver kernel of [[pageRank]]'s small-graph path: the identical
    * recurrence over a sorted edge array (sorting pins the double
    * accumulation order, so the result does not depend on how the
    * collected rows were partitioned).
    */
  private def pageRankLocal(edgeRows: Array[Row],
      iterations: Int, damping: Double): (Array[Any], Array[Double]) = {
    val sorted = edgeRows.sortBy(r => (String.valueOf(r.get(0)), String.valueOf(r.get(1))))
    val idx = scala.collection.mutable.LinkedHashMap.empty[Any, Int]
    def id(a: Any): Int = idx.getOrElseUpdate(a, idx.size)
    val es = sorted.map(r => (id(r.get(0)), id(r.get(1)), r.getDouble(2)))
    val n = idx.size
    if (n == 0) return (Array.empty, Array.empty)
    val outw = new Array[Double](n)
    es.foreach { case (s, _, w) => outw(s) += w }
    var ranks = Array.fill(n)(1.0 / n)
    for (_ <- 1 to iterations) {
      val contrib = new Array[Double](n)
      es.foreach { case (s, t, w) => contrib(t) += ranks(s) * (w / outw(s)) }
      var dm = 0.0
      var i = 0
      while (i < n) { if (outw(i) == 0.0) dm += ranks(i); i += 1 }
      ranks = Array.tabulate(n)(j =>
        (1 - damping) / n + damping * (contrib(j) + dm / n))
    }
    (idx.keys.toArray, ranks)
  }

  private def pageRankDistributed(e: DataFrame, iterations: Int,
      damping: Double): DataFrame = {
    val sc = e.sparkSession.sparkContext
    val (nodes, nodesPinned) = localCheckpointTracked(
      e.select(col("src").as("node")).union(e.select(col("dst"))).distinct())
    val n = nodes.count()
    if (n == 0) {
      releasePinned(sc, nodesPinned)
      return nodes.select(col("node"), lit(0.0).as("rank"))
    }
    // out-normalized transition table, materialized once: every
    // iteration re-reads it, never the raw edges
    val outw = e.groupBy(col("src")).agg(sum(col("w")).as("outw"))
    val (trans, transPinned) = localCheckpointTracked(
      e.join(outw, "src").select(col("src"), col("dst"), (col("w") / col("outw")).as("p")))
    val srcs = trans.select(col("src").as("node")).distinct()

    var ranks = nodes.withColumn("rank", lit(1.0 / n))
    var ranksPinned = Set.empty[Int]
    for (i <- 1 to iterations) {
      // dangling mass: total rank sitting on nodes with no out-edges,
      // redistributed uniformly — one scalar row, cross-joined (never
      // a driver action)
      val dangling = ranks.join(srcs, Seq("node"), "left_anti")
        .agg(coalesce(sum(col("rank")), lit(0.0)).as("dm"))
      val contribs = trans.join(ranks, col("node") === col("src"))
        .groupBy(col("dst").as("cnode"))
        .agg(sum(col("rank") * col("p")).as("contrib"))
      val stepped = nodes.join(contribs, col("node") === col("cnode"), "left")
        .crossJoin(dangling)
        .select(col("node"),
          (lit((1 - damping) / n) + lit(damping) *
            (coalesce(col("contrib"), lit(0.0)) + col("dm") / n)).as("rank"))
      if (i % 8 == 0 && i < iterations) {
        val (cp, cpPinned) = localCheckpointTracked(stepped)
        releasePinned(sc, ranksPinned)
        ranks = cp; ranksPinned = cpPinned
      } else ranks = stepped
    }
    // nodes/trans are always checkpoint-pinned, so rehomed always
    // persists+materializes the result BEFORE releasing their blocks
    rehomed(ranks, ranksPinned ++ nodesPinned ++ transPinned)
  }

  /** Driver kernel of [[descendantCounts]]'s small-graph path: the same
    * register propagation as the distributed exact path, as per-node
    * `java.util.BitSet`s with ROUND-SYNCHRONOUS sweeps (reads only the
    * previous round), so a truncating `maxIter` matches the distributed
    * state. Null endpoints: the node exists with count 0, the edge is
    * inert — equi-join parity.
    */
  private def descendantCountsLocal(edgeRows: Array[Row], maxIter: Int): Array[Row] = {
    val idx = scala.collection.mutable.LinkedHashMap.empty[Any, Int]
    def id(v: Any): Int = idx.getOrElseUpdate(v, idx.size)
    val edges = edgeRows.map(r =>
      (id(r.get(0)), id(r.get(1)), r.get(0) != null && r.get(1) != null))
    val n = idx.size
    // seed: direct children (the distributed path's reg_0)
    var cur = Array.fill(n)(new java.util.BitSet(n))
    edges.foreach { case (s, d, live) => if (live) cur(s).set(d) }
    var iter = 0
    var changed = true
    while (iter < maxIter && changed) {
      val next = cur.map(_.clone().asInstanceOf[java.util.BitSet])
      edges.foreach { case (s, d, live) =>
        if (live) { next(s).or(cur(d)); next(s).set(d) }
      }
      changed = false
      var i = 0
      while (i < n && !changed) {
        if (next(i) != cur(i)) changed = true
        i += 1
      }
      cur = next
      iter += 1
    }
    idx.iterator.map { case (v, i) =>
      Row(v, if (v == null) 0L else cur(i).cardinality().toLong)
    }.toArray
  }

  /** Exact bitset path of [[descendantCounts]]: nodes get a dense rank
    * (bounded by `exactMaxNodes`, so the rank window is cheap), each
    * register is ⌈V/64⌉ longs carried as top-level `__b$i` columns, and
    * the backward OR-merge is one `bit_or` aggregate per word — all
    * inside whole-stage codegen.
    */
  private def descendantCountsExact(
      e: DataFrame, nodes: DataFrame, v: Int, maxIter: Int): DataFrame = {
    val words = (v + 63) / 64
    val wordCols = (0 until words).map(i => s"__b$i")
    // dense 0-based rank per node; single-partition window is fine on the
    // ≤ exactMaxNodes path (the sketch path never ranks)
    val idx = nodes
      .withColumn("__i", row_number().over(Window.orderBy(col("node"))) - 1)
      .persist()
    // edge table annotated with the DST node's (word, bit) position
    val eIdx = e.join(idx.select(col("node").as("dst"), col("__i")), "dst")
      .select(col("src"), col("dst"),
        (col("__i") / 64).cast("int").as("__wi"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(__i % 64 AS INT))").as("__bit"))
      .persist()
    eIdx.count()
    def orAgg(g: org.apache.spark.sql.RelationalGroupedDataset,
        exprs: Seq[Column]): DataFrame =
      g.agg(exprs.head.as(wordCols.head),
        exprs.tail.zip(wordCols.tail).map { case (c, n) => c.as(n) }: _*)
    // seed: reg_0(v) = OR of bit(u) over direct children u
    val seed = orAgg(
      eIdx.groupBy(col("src").as("id")),
      (0 until words).map(i =>
        bit_or(when(col("__wi") === i, col("__bit")).otherwise(0L))))
      .persist()
    var total = -1L
    val last = fixpoint(seed, maxIter, keepSeed = false, _ % 5 == 4) { (labels, _) =>
      // next(v) = OR over v→u of (bit(u) | reg(u)); sinks contribute
      // bit-only rows via the left join's null registers
      val j = eIdx.join(labels.withColumnRenamed("id", "dst"), Seq("dst"), "left")
      orAgg(
        j.groupBy(col("src").as("id")),
        (0 until words).map(i =>
          bit_or(coalesce(col(wordCols(i)), lit(0L))
            .bitwiseOR(when(col("__wi") === i, col("__bit")).otherwise(0L)))))
    } { (_, next) =>
      // registers only grow → total popcount is monotone; a flat round
      // is the global fixpoint
      val before = total
      total = next.select(wordCols.map(c => sum(bit_count(col(c)).cast("long")).as(c)): _*)
        .na.fill(0L)
        .select(wordCols.map(col).reduce(_ + _).as("t")).first().getLong(0)
      total == before
    }
    val homed = last.handBack(descendantTotals(nodes, _,
      wordCols.map(c => bit_count(col(c)).cast("long")).reduce(_ + _)))
    idx.unpersist(); eIdx.unpersist()
    homed
  }

  /** `(node, n_desc)` for every node: `nDesc` over its register in
    * `labels`, 0 for a node without one (a sink). */
  private def descendantTotals(nodes: DataFrame, labels: DataFrame, nDesc: Column): DataFrame =
    nodes.join(labels.select(col("id").as("node"), nDesc.as("n_desc")), Seq("node"), "left")
      .select(col("node"), coalesce(col("n_desc"), lit(0L)).as("n_desc"))

  /** Sketch path of [[descendantCounts]]: per-node HLL registers
    * (Datasketches, fixed bytes) unioned backward along edges — the
    * representation that stays O(V·lgK) however large reachable sets
    * get. Counts are approximate (HLL error ~1.6% at the default lgK);
    * register bytes are a deterministic function of the inserted set, so
    * convergence compares bytes.
    */
  private def descendantCountsSketch(
      e: DataFrame, nodes: DataFrame, maxIter: Int): DataFrame = {
    // base(v) = sketch of v's direct children — the fixed one-hop layer
    // every round re-unions (registers are max-merge, so re-adding is free)
    val base = e.groupBy(col("src").as("id"))
      .agg(hll_sketch_agg(col("dst")).as("sk")).persist()
    base.count()
    // `base` seeds the loop AND is re-read by every step: it stays the caller's
    val last = fixpoint(base, maxIter, keepSeed = true, _ % 5 == 4) { (labels, _) =>
      val gathered = e.join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src").as("id")).agg(hll_union_agg(col("sk")).as("ck"))
      base.join(gathered, Seq("id"), "left")
        .select(col("id"),
          when(col("ck").isNull, col("sk"))
            .otherwise(hll_union(col("sk"), col("ck"))).as("sk"))
    } { (labels, next) =>
      // union with a subset leaves every register — hence the serialized
      // bytes — unchanged, so byte equality is the fixpoint test
      next.as("n").join(labels.as("p"), Seq("id"))
        .filter(col("n.sk") =!= col("p.sk")).count() == 0
    }
    val homed = last.handBack(descendantTotals(nodes, _, hll_sketch_estimate(col("sk"))))
    base.unpersist()
    homed
  }

  /** Critical-path-method forward pass over the reference's
    * `STAGE_DEPENDENCY` precedence model (`/root/reference/test.mmd:52-58`):
    * edges carry `relation_type` FS/SS/FF/SF plus `lag_days`, stages carry
    * a duration. Each relation type is an inequality on the child's start:
    *
    *   FS: child.start  ≥ parent.finish + lag
    *   SS: child.start  ≥ parent.start  + lag
    *   FF: child.finish ≥ parent.finish + lag  ⇔ start ≥ p.finish + lag − c.dur
    *   SF: child.finish ≥ parent.start  + lag  ⇔ start ≥ p.start  + lag − c.dur
    *
    * All four reduce to `child.es ≥ parent.es + w` with a PER-EDGE STATIC
    * weight, so the whole schedule is ONE weighted longest-path pass —
    * no per-relation branching inside the iteration.
    *
    * Returns (stage_id, duration_days, early_start, early_finish) in day
    * offsets from project start (earliest start floored at 0, the
    * project-start constraint), plus start/finish dates when
    * `projectStart` is given. `stages` holds (stage_id, duration_days,
    * ...); `deps` holds (stage_id = child, depends_on_stage_id = parent,
    * relation_type, lag_days).
    */
  private[graft] def cpmSchedule(stages: DataFrame, deps: DataFrame,
      projectStart: Option[java.sql.Date]): DataFrame = {
    val dur = stages.select(col("stage_id"), col("duration_days").cast("long").as("__dur"))
    val rel = upper(trim(col("relation_type")))
    // LEFT joins + a raise_error guard: an inner join would silently DROP
    // any dependency whose parent or child stage is missing from `stages`
    // and quietly produce an early schedule — the same failure mode the
    // unknown-relation_type branch below exists to prevent
    def missing(idCol: String): Column = raise_error(concat(
      lit(s"cpmSchedule: $idCol '"),
      coalesce(col(idCol).cast("string"), lit("NULL")),
      lit("' has no stages row")))
    // evaluates to 0 for valid rows; added to every branch so EVERY
    // relation type checks both endpoints (SS/SF don't otherwise read
    // the parent/child duration, and an unreferenced guard column would
    // be pruned away by the optimizer)
    val guard = when(col("__p").isNull, missing("depends_on_stage_id"))
      .when(col("__c").isNull, missing("stage_id"))
      .otherwise(lit(0L))
    val weighted = deps
      .join(dur.select(col("stage_id").as("__p"), col("__dur").as("__pdur")),
        col("depends_on_stage_id") === col("__p"), "left")
      .join(dur.select(col("stage_id").as("__c"), col("__dur").as("__cdur")),
        col("stage_id") === col("__c"), "left")
      .select(
        col("depends_on_stage_id").as("src"), col("stage_id").as("dst"),
        (guard + when(rel === "FS", col("__pdur") + col("lag_days"))
          .when(rel === "SS", col("lag_days").cast("long"))
          .when(rel === "FF", col("__pdur") + col("lag_days") - col("__cdur"))
          .when(rel === "SF", col("lag_days") - col("__cdur"))
          // anything else would silently DROP the precedence constraint
          // (a when-chain with no otherwise yields NULL) and quietly
          // produce an early schedule — fail the job instead
          .otherwise(raise_error(concat(
            lit("cpmSchedule: unknown relation_type '"),
            coalesce(col("relation_type"), lit("NULL")), lit("' (expected FS/SS/FF/SF)")))))
          .as("w"))
    val es = dagLongestPath(weighted, "src", "dst", "w")
      .select(col("node").as("stage_id"), col("dist").as("early_start"))
    val base = stages.join(es, Seq("stage_id"), "left")
      .na.fill(0L, Seq("early_start")) // independent stages start at day 0
      .withColumn("early_finish", col("early_start") + col("duration_days").cast("long"))
    projectStart.fold(base) { d =>
      base
        .withColumn("start_date", date_add(lit(d), col("early_start").cast("int")))
        .withColumn("finish_date", date_add(lit(d), col("early_finish").cast("int")))
    }
  }
}
