package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{GraftSession, SharedFrames}

/** Distributed connected components by min-label propagation with pointer
  * jumping — the cluster-resolution step a dedup pipeline runs AFTER
  * candidate verification: near-dup pairs (a,b) are edges, each connected
  * component is one duplicate cluster, and the component id (minimum member
  * id) picks the representative to keep.
  *
  * Algorithm: every node starts labelled with itself; each round takes the
  * min of its own and its neighbours' labels (one hop), then pointer-jumps
  * (`label := label(label)`) so labels travel 2^k hops after k rounds —
  * O(log diameter) rounds, each a pair of shuffles on the node id. That is
  * the property that makes it usable on a 100 TB pair set: a plain
  * propagate-one-hop loop needs diameter rounds (a 10k-long chain of
  * near-dups = 10k shuffles), the jump version ~14.
  *
  * Each round checkpoints only the (node, label) frame — never the
  * transitive closure, whose size is quadratic in cluster size (that is the
  * DuckDB oracle's job at test scale, see d07's recursive CTE). Each round
  * is a [[SharedFrames.Scope]] released once the next round has
  * materialized, so resolve holds at most two label frames at any moment.
  * The distributed path's RETURNED frame lives only in its checkpoint
  * blocks; it is held in the session's [[SharedFrames.sessionScope]], and
  * `SharedFrames.release(session)` frees it after the consuming actions
  * (`Dataset.unpersist` does nothing to a local checkpoint).
  */
object ConnectedComponents {

  /** Resolve components over undirected edges `(src, dst)`.
    *
    * Small inputs (≤ `spark.graft.cc.localMax` pairs, Long ids) resolve
    * on the driver via union-find and return a local relation; larger
    * ones run the distributed pointer-jumping loop. Same labels either
    * way.
    *
    * @return one row per distinct node: (`node`, `component`) where
    *         `component` is the minimum node id in its component.
    * @throws IllegalArgumentException on a null edge endpoint, on either
    *         path (no query produces them; silently skipping or carrying
    *         them would make the result depend on the input size).
    * @throws IllegalStateException if labels have not converged after
    *         `maxIter` rounds on the DISTRIBUTED path (the local path
    *         always converges) — silently returning possibly-wrong
    *         clusters would corrupt a dedup pass; raise `maxIter` (rounds
    *         needed grow with log2 of the component diameter) instead.
    */
  def resolve(
      pairs: DataFrame,
      src: String,
      dst: String,
      maxIter: Int = 20): DataFrame = {
    // read before any work, so a malformed value fails first; the local
    // path's gate, see below
    val localMax =
      GraftSession.longConf(pairs.sparkSession, "spark.graft.cc.localMax", 1000000L)
    // half-edges and the edge cache, released however resolve exits
    val work = new SharedFrames.Scope
    try {
      // Eager lineage truncation, not lazy persist, in two places. (1)
      // `half`: the symmetric-edge union reads the input TWICE, and the pair
      // set is typically the output of an expensive verification pipeline —
      // without materializing first, that whole upstream plan runs twice.
      // (2) the per-round label frames: a lazy persist whose only action is
      // the convergence probe never materializes, so every round would
      // re-execute the whole growing join tree from the scan — exponential
      // recompute. With `spark.graft.checkpoint.dir` set, these are reliable
      // checkpoints, so a lost executor doesn't force full recompute.
      val half = work.checkpoint(
        pairs.select(col(src).as("a"), col(dst).as("b")), eager = true)
      // one job over the materialized blocks: the pair count gates the
      // local path, and a null endpoint fails here on both paths
      val stats = half.agg(count(lit(1)),
        count(when(col("a").isNull || col("b").isNull, 1))).head()
      if (stats.getLong(1) > 0) {
        throw new IllegalArgumentException(
          "connected components: null edge endpoint in pairs input — " +
            "null node ids are unsupported; filter them out upstream")
      }

      // Round-21 small-graph fast path (guide §1.2/§5): the distributed loop
      // below costs ~8–10 eager actions (2 checkpoints + a probe count per
      // round) — ~0.9 s of fixed overhead per resolve at ANY input size,
      // paid three times per suite (d07/d18/d21). A dedup pipeline's
      // verified pair set is routinely orders of magnitude smaller than its
      // corpus, so when the (already materialized) edge frame is small
      // enough to hold on the driver, resolve it there with union-find and
      // return a LOCAL relation — microseconds instead of seconds, and the
      // result auto-broadcasts into downstream joins (d18's corpus join).
      // The collect is bounded BY THE COUNT WE ALREADY HAVE, reading the
      // just-checkpointed blocks (never re-running the upstream plan), and
      // the gate is conf'd (`spark.graft.cc.localMax` edges, default 1M ≈
      // tens of MB on the driver; 0 disables). Distributed semantics are
      // preserved exactly: min-member component labels (union-find keeps
      // the invariant root = min of set by always attaching the larger
      // root under the smaller). Long node ids only — other types keep the
      // distributed path so output schemas never change.
      val longIds = half.schema.fields.forall(
        _.dataType == org.apache.spark.sql.types.LongType)
      if (longIds && localMax > 0 && stats.getLong(0) <= localMax) {
        val rows = half.collect()
        val parent = new java.util.HashMap[Long, Long]()
        def find(x: Long): Long = {
          var r = x
          while (parent.get(r) != r) r = parent.get(r)
          var c = x
          while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
          r
        }
        rows.foreach { row =>
          val a = row.getLong(0); val b = row.getLong(1)
          parent.putIfAbsent(a, a)
          parent.putIfAbsent(b, b)
          val ra = find(a); val rb = find(b)
          if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
        }
        val session = pairs.sparkSession
        import session.implicits._
        val labels = new Array[(Long, Long)](parent.size())
        val it0 = parent.keySet().iterator()
        var i = 0
        while (it0.hasNext) { val n = it0.next(); labels(i) = (n, find(n)); i += 1 }
        return labels.sortBy(_._1).toSeq.toDF("node", "component")
      }

      val edges = work.persist(half.union(half.select(col("b"), col("a"))).distinct())

      // Initial labels already include the first hop (min of self and direct
      // neighbours) — one aggregation instead of burning round 1 on a join
      // against identity labels.
      var held = new SharedFrames.Scope
      var labels = held.checkpoint(
        edges.groupBy(col("a"))
          .agg(least(col("a"), min(col("b"))).as("component"))
          .select(col("a").as("node"), col("component")), eager = true)

      var converged = false
      var it = 0
      while (!converged && it < maxIter) {
        // one hop: min over own + neighbour labels; the pre-hop label rides
        // along as `prev` so convergence is read off the materialized round
        // itself — no extra probe join against the previous frame.
        val nbrMin = edges
          .join(labels, edges("b") === labels("node"))
          .groupBy(col("a"))
          .agg(min(col("component")).as("nbr"))
        // materialized before the self-join: both sides of the pointer jump
        // read these blocks instead of recomputing the join+agg subtree twice
        val hop = new SharedFrames.Scope
        val hopped = hop.checkpoint(
          labels.join(nbrMin, labels("node") === nbrMin("a"), "left")
            .select(labels("node").as("node"),
              least(labels("component"), coalesce(col("nbr"), labels("component")))
                .as("component"),
              labels("component").as("prev")), eager = true)
        // pointer jump: component := component(component)
        val round = new SharedFrames.Scope
        labels = round.checkpoint(hopped.as("x")
          .join(
            hopped.select(col("node").as("ln"), col("component").as("lc")).as("y"),
            col("x.component") === col("ln"), "left")
          .select(col("x.node").as("node"),
            coalesce(col("lc"), col("x.component")).as("component"),
            col("x.prev").as("prev")), eager = true)

        // cheap scan over the just-materialized blocks (no joins, no lineage)
        converged = labels.filter(col("component") =!= col("prev")).limit(1).count() == 0L
        held.release() // superseded round
        hop.release()
        held = round
        it += 1
      }
      if (!converged) {
        held.release()
        throw new IllegalStateException(
          s"connected components did not converge after $maxIter rounds — " +
            "raise maxIter (rounds grow with log2 of the component diameter)")
      }
      SharedFrames.sessionScope(pairs.sparkSession).adopt(held)
      labels.select(col("node"), col("component"))
    } finally work.release()
  }
}
