package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Iterative graph analytics over document-relation graphs — the family
  * the dup-component collapse (`DedupOps.dupComponents`) opened, extended
  * to weighted-importance scoring. The motivating pipeline use: rank docs
  * by their centrality in the near-dup/overlap graph, so sampling and
  * retention decisions can prefer canonical cluster centers over
  * peripheral variants (cf. reference README's quality-tier retention;
  * the reference itself has no graph tier — pure [EXT]).
  *
  * All arithmetic is integer micros end-to-end: rank mass starts at
  * 1e6 per node, contributions use integer division by degree, damping
  * is (85 * x) div 100. Everything downstream of the edge list is
  * therefore bit-identical in any engine — the same quantization
  * discipline as the dedup/audit rollups, applied to an ITERATIVE
  * computation where float drift would otherwise compound per round.
  */
object GraphOps {

  /** Integer-micros PageRank. `edges` is a directed (src, dst) frame;
    * for undirected graphs callers pass both directions. Nodes are the
    * distinct srcs (for symmetrized graphs = every endpoint, so no
    * dangling-mass term; pure sinks would leak their mass — symmetrize
    * or add self-loops first).
    *
    * Scale shape: degree is computed ONCE (partial-agg shuffle on src),
    * the edge frame is joined back and reused by every iteration; each
    * round is one co-partitioned join on src plus one partial-agg
    * shuffle on dst — the textbook distributed PageRank step with no
    * driver-side state. `localCheckpoint` every 4 rounds bounds lineage
    * the way `dupComponents`' per-round checkpoint does; ranks are narrow
    * (node, long) rows throughout.
    */
  def pagerankMicros(edges: DataFrame, iterations: Int = 8): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val withDeg = edges.join(deg, "src")
    var ranks = deg.select(col("src").as("node"), lit(1000000L).as("rank_micros"))
    for (i <- 1 to iterations) {
      ranks = withDeg.join(ranks, withDeg("src") === ranks("node"))
        .select(col("dst").as("node"), expr("rank_micros div deg").as("c"))
        .groupBy(col("node"))
        .agg(expr("150000L + (85L * sum(c)) div 100L").as("rank_micros"))
      if (i % 4 == 0 && i < iterations) ranks = ranks.localCheckpoint()
    }
    ranks
  }

  /** PageRank over the MinHash near-dup graph: LSH candidate pairs
    * symmetrized into an undirected edge list, 8 damped rounds. High
    * rank = central variant of a large dup cluster (the copy everything
    * else resembles); rank ~150000 = peripheral one-off overlap.
    */
  def docPagerank(documents: DataFrame, iterations: Int = 8): DataFrame =
    docPagerankFromPairs(DedupOps.minhashCandidatePairs(documents), iterations)

  /** Same ranking from a prebuilt (doc_a, doc_b) pair frame — the
    * persisted pair-index consumer: probes skip the signature → band →
    * bucket-join derivation entirely.
    */
  def docPagerankFromPairs(pairs: DataFrame, iterations: Int = 8): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    pagerankMicros(edges, iterations)
      .select(col("node").as("doc_id"), col("rank_micros"))
  }

  /** Eigenvector centrality over the near-dup graph — power iteration
    * with MAX-normalization, the influence read PageRank's damped
    * random walk deliberately smooths away: a node is central in
    * proportion to how central its neighbors are, so the tight template
    * CLIQUES light up far above the chain/star shapes that PageRank's
    * degree split rewards. Integer fixed point: x starts at 10⁶,
    * x' = Σ_neighbors x, then renormalize x'·10⁶ div max(x') each
    * round — every round is a co-partitioned join + partial-agg shuffle
    * + a broadcast 1-row max, and `rounds` fixed iterations replay
    * bit-for-bit in the oracle (same discipline as [[pagerankMicros]]).
    * localCheckpoint per round: the frame feeds both the join and the
    * max aggregate (multi-reference loop rule).
    */
  def eigenvectorCentrality(documents: DataFrame, rounds: Int = 8): DataFrame =
    eigenvectorCentralityFromPairs(DedupOps.minhashCandidatePairs(documents), rounds)

  def eigenvectorCentralityFromPairs(pairs: DataFrame, rounds: Int = 8): DataFrame = {
    require(rounds >= 1 && rounds <= 40, s"rounds out of range: $rounds")
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint()
    var x = edges.select(col("src").as("node")).distinct()
      .withColumn("x", lit(1000000L)).localCheckpoint()
    for (_ <- 1 to rounds) {
      val raw = edges.join(x.select(col("node").as("src"), col("x")), Seq("src"))
        .groupBy(col("dst").as("node")).agg(sum(col("x")).as("xr"))
        .localCheckpoint()
      val mx = raw.agg(max(col("xr")).as("mx"))
      x = raw.crossJoin(broadcast(mx))
        .select(col("node"), expr("(xr * 1000000) div mx").as("x"))
        .localCheckpoint()
    }
    x.select(col("node").as("doc_id"), col("x").as("centrality_ppm"))
  }

  /** Per-node triangle counts + local clustering coefficient over an
    * undirected (doc_a < doc_b) pair frame. Dup clusters in the near-dup
    * graph are near-cliques, so a high coefficient marks "every variant
    * resembles every other" template families (safe to collapse hard),
    * while triangles=0 at high degree marks hub-shaped overlap — distinct
    * docs sharing boilerplate — where min-label collapse would over-merge.
    *
    * Scale shape: the classic degree-ordered orientation. Each undirected
    * edge is directed from its lower-(deg, id) endpoint to the higher, so
    * every out-degree is O(sqrt m) no matter how skewed the raw degrees
    * are; wedges come from ONE self-equi-join of the oriented list on its
    * source, and closure is ONE more equi-join against the same list.
    * Candidate volume is sum(outdeg²) ≤ m^1.5 — the hub that would make
    * the naive id-ordered join quadratic (a 10^6-degree boilerplate node
    * at corpus scale) contributes only its low-rank wedges here. No
    * driver state, no iteration; three partial-agg shuffles total.
    */
  def triangleStats(pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
    val deg = edges.select(col("u").as("n")).union(edges.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    // orient by the (deg, id) total order; carry the rank key of BOTH
    // endpoints so the wedge filter below never re-joins degree
    val withDeg = edges
      .join(deg.select(col("n").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), Seq("v"))
    val fwd = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    val oriented = withDeg.select(
      when(fwd, col("u")).otherwise(col("v")).as("src"),
      when(fwd, col("v")).otherwise(col("u")).as("dst"),
      when(fwd, col("dv")).otherwise(col("du")).as("ddst"))
    // wedges (b, c) from a common source, ordered b < c in (deg, id);
    // a triangle is a wedge whose far edge exists in the oriented list
    val w1 = oriented.select(col("src").as("a"), col("dst").as("b"), col("ddst").as("db"))
    val w2 = oriented.select(col("src").as("a"), col("dst").as("c"), col("ddst").as("dc"))
    val wedges = w1.join(w2, Seq("a"))
      .filter(col("db") < col("dc") || (col("db") === col("dc") && col("b") < col("c")))
    val triangles = wedges.join(
      oriented.select(col("src").as("b"), col("dst").as("c")), Seq("b", "c"), "left_semi")
    val corners = triangles.select(col("a").as("n"))
      .union(triangles.select(col("b").as("n")))
      .union(triangles.select(col("c").as("n")))
    corners.groupBy(col("n")).agg(count(lit(1)).as("triangles"))
      .join(deg, Seq("n"))
      .select(col("n").as("doc_id"), col("triangles"), col("deg"),
        // closed wedges / possible wedges, quantized to ppm (integer-out
        // audit discipline: no derived DOUBLE on the oracled surface)
        expr("cast((2 * triangles * 1000000) div (deg * (deg - 1)) as bigint)")
          .as("clustering_ppm"))
  }

  /** k-core peel over an undirected (doc_a < doc_b) pair frame: repeatedly
    * remove nodes of degree < k until only the k-core remains — the
    * density floor that separates genuine template FAMILIES (every member
    * tied to ≥ k others) from incidental chains and stars that min-label
    * collapse would happily fuse. Each peel round is one degree aggregate
    * + two semi-joins (all co-partitioned on the node); `rounds` bounds
    * the iteration, so the result is a pure function of the edge set and
    * replays round-for-round in the oracle. A round past convergence is
    * the identity (nothing left under the floor), so extra rounds are
    * harmless; a pathological peel sequence (a long chain peeling one end
    * per round) needs rounds ≈ diameter, the trade min-label propagation
    * makes (`dupComponents` avoids it with star contraction); the escape
    * hatch is to raise rounds — each costs one join round, not a corpus
    * pass. Output: surviving nodes with their
    * degree INSIDE the core (≥ k by construction).
    */
  def kCore(pairs: DataFrame, k: Int = 2, rounds: Int = 8): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1 && rounds <= 40, s"rounds out of range: $rounds")
    var edges = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
    for (i <- 1 to rounds) {
      val deg = edges.select(col("u").as("n")).union(edges.select(col("v").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k)
      edges = edges
        .join(keep.select(col("n").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("n").as("v")), Seq("v"), "left_semi")
      // checkpoint EVERY round, not every 4: each round references the
      // previous edge frame ~5× (degree union twice, both semi-join
      // probe sides, the join input), and Catalyst does not dedupe
      // common subplans — uncheckpointed, round r re-executes round r−1
      // five times over (5^4 between sparse checkpoints; measured 13.4 s
      // for 8 rounds over a 617-edge graph, 2.1 s checkpointed). The
      // engine-side twin of the oracle's MATERIALIZED-CTE requirement.
      edges = edges.localCheckpoint()
    }
    edges.select(col("u").as("n")).union(edges.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("core_deg"))
      .select(col("n").as("doc_id"), col("core_deg"))
  }

  /** Adamic–Adar link prediction over an undirected (doc_a < doc_b) pair
    * frame: score every NON-edge two-hop pair by Σ 1/ln(deg(w)) over the
    * common neighbors w — in the dup-graph reading, "pairs the banding
    * probably MISSED" (two docs sharing several low-degree near-dup
    * neighbors are almost certainly near-dups themselves; LSH banding is
    * probabilistic, so recall audits need exactly this query). The
    * 1/ln(deg) weight is the AA insight: a rare shared neighbor is strong
    * evidence, a boilerplate hub is weak — and the `maxDeg` guard drops
    * hub wedge-centers outright (their AA contribution is negligible by
    * construction AND they are the quadratic term: wedge volume is
    * Σ deg(w)², so capping deg(w) bounds it the way the jaccard df cap
    * bounds postings). Per-term micros quantization before the integer
    * sum keeps scores engine-exact; top-N lands via TakeOrdered on the
    * unique (score desc, a, b) order. One wedge self-join + one anti-join
    * against the existing edges — no iteration.
    */
  def adamicAdar(pairs: DataFrame, maxDeg: Int = 50, topN: Int = 50): DataFrame = {
    val edges = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
    val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
    val deg = sym.groupBy(col("u").as("n")).agg(count(lit(1)).as("deg"))
    val nbr = sym.select(col("u").as("w"), col("v").as("x"))
      .join(deg.filter(col("deg").between(2, maxDeg))
        .select(col("n").as("w"), col("deg")), Seq("w"))
    val wedges = nbr.select(col("w"), col("x").as("a"), col("deg"))
      .join(nbr.select(col("w"), col("x").as("b")), Seq("w"))
      .filter(col("a") < col("b"))
    wedges
      .join(edges.select(col("u").as("a"), col("v").as("b")), Seq("a", "b"), "left_anti")
      .select(col("a"), col("b"),
        expr("cast(round(1000000.0d / ln(cast(deg as double))) as bigint)").as("term"))
      .groupBy(col("a").as("doc_a"), col("b").as("doc_b"))
      .agg(count(lit(1)).as("common_neighbors"), sum(col("term")).as("aa_micros"))
      .orderBy(col("aa_micros").desc, col("doc_a"), col("doc_b"))
      .limit(topN)
  }

  /** Synchronous label propagation (Raghavan et al.) — community
    * detection between the collapse's two extremes: min-label components
    * merge ANY connected structure (a single boilerplate bridge fuses two
    * unrelated template families), while LPA communities stop at density
    * boundaries — a node adopts the label the MAJORITY of its neighbors
    * carry, so a lone bridge edge never overrules a family's internal
    * consensus. The fixed round count plus the deterministic tie-break
    * (max count, then smallest label) makes the result a pure function
    * of the edge set — no RNG, no engine-dependent iteration order, so
    * the whole run replays round-for-round in the oracle.
    *
    * `edges` is the symmetrized (src, dst) frame. Each round is one
    * co-partitioned join (labels onto edge sources) + one (node, label)
    * partial-agg shuffle + a per-node argmax window over rows bounded by
    * the node's distinct-neighbor-label count ≤ degree — the same
    * per-round cost envelope as `pagerankMicros`, with lineage
    * checkpointed on the same cadence.
    */
  def labelPropagation(edges: DataFrame, rounds: Int = 4): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    import org.apache.spark.sql.expressions.Window
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("lab", col("node"))
    for (i <- 1 to rounds) {
      val next = edges
        .join(labels.select(col("node").as("src"), col("lab")), Seq("src"))
        .groupBy(col("dst").as("node"), col("lab"))
        .agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("node")).orderBy(col("c").desc, col("lab"))))
        .filter(col("rn") === 1)
        .select(col("node"), col("lab"))
      labels = if (i % 4 == 0 && i < rounds) next.localCheckpoint() else next
    }
    labels
  }

  /** LPA communities over a prebuilt (doc_a, doc_b) near-dup pair frame
    * (the persisted pair index; the same symmetrized candidate edges the
    * collapse and PageRank consume).
    */
  def docCommunitiesFromPairs(pairs: DataFrame, rounds: Int = 4): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct()
    labelPropagation(edges, rounds)
      .select(col("node").as("doc_id"), col("lab").as("community"))
  }

  /** Degree assortativity (Newman 2002) of an undirected pair graph —
    * ONE number for the dup graph's mixing structure: r > 0 means
    * high-degree nodes attach to other high-degree nodes (template
    * families linking to each other — collapse decisions compound),
    * r < 0 means hub-and-spoke (boilerplate cores with leaf variants —
    * min-label collapse is safe). Pearson correlation of endpoint
    * degrees over DIRECTED edge instances (each undirected edge counted
    * in both directions, the standard convention, which also makes
    * Σdx = Σdy exactly). Exact integer moments in DECIMAL(38,0); the
    * coefficient is ONE fixed-shape double, micros-quantized; NULL on
    * zero degree variance (a regular graph has no mixing signal).
    * Scale shape: one degree aggregate + two co-partitioned joins +
    * one moment pass — no iteration, no pair blowup.
    */
  def degreeAssortativity(pairs: DataFrame): DataFrame = {
    val D = DecimalType(38, 0)
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val deg = edges.groupBy(col("src").as("n")).agg(count(lit(1)).as("d"))
    edges
      .join(deg.select(col("n").as("src"), col("d").as("dx")), Seq("src"))
      .join(deg.select(col("n").as("dst"), col("d").as("dy")), Seq("dst"))
      .agg(count(lit(1)).as("m2"),
        sum(col("dx").cast(D)).as("sx"), sum(col("dy").cast(D)).as("sy"),
        sum((col("dx").cast(D) * col("dy")).cast(D)).as("sxy"),
        sum((col("dx").cast(D) * col("dx")).cast(D)).as("sxx"))
      .select(expr("m2 div 2").as("n_edges"),
        when(expr("cast(sxx as double) * m2 - cast(sx as double) * cast(sx as double)") <= 0.0,
          lit(null).cast(LongType))
          .otherwise(expr("""cast(round(
            |  (cast(sxy as double) * m2 - cast(sx as double) * cast(sy as double))
            |  / (cast(sxx as double) * m2 - cast(sx as double) * cast(sx as double))
            |  * 1000000) as bigint)""".stripMargin))
          .as("assortativity_micros"))
  }

  /** Newman modularity of a community assignment over an undirected pair
    * graph — the ONE number that says whether the LPA labels actually
    * carve the dup graph at its joints: Q = Σ_c [e_c/m − (deg_c/2m)²],
    * e_c = intra-community edges, deg_c = community degree mass. Q near
    * 0 means the "communities" are no better than random wiring (collapse
    * decisions shouldn't trust them); Q ≳ 0.3 is real structure. The
    * quality gate [[labelPropagation]] ships against.
    *
    * Exact integer moments in DECIMAL(38,0) (directed-edge counts and
    * Σ deg_c² stay well inside 38 digits at 10¹³ edges), ONE fixed-shape
    * double division micros-quantized at the end — the
    * [[degreeAssortativity]] discipline, so the oracle's HUGEINT replay
    * is bit-identical. Over directed instances: m2 = 2m, intra2 = 2Σe_c,
    * Q = (intra2·m2 − Σdeg_c²) / m2². Scale shape: one degree aggregate,
    * two co-partitioned label joins, two broadcast-scale rollups — no
    * iteration, no pair blowup. NULL modularity on an empty edge set.
    */
  def modularity(pairs: DataFrame, labels: DataFrame): DataFrame = {
    val D = DecimalType(38, 0)
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct()
    val lab = labels.select(col("doc_id").as("node"), col("community"))
    val deg = edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
    val comm = deg.join(lab, Seq("node"))
      .groupBy(col("community")).agg(sum(col("d")).as("dc"))
      .agg(count(lit(1)).as("n_communities"),
        sum((col("dc").cast(D) * col("dc").cast(D)).cast(D)).as("sdc2"))
    val nodes = deg.agg(count(lit(1)).as("n_nodes"))
    edges
      .join(lab.select(col("node").as("src"), col("community").as("ca")), Seq("src"))
      .join(lab.select(col("node").as("dst"), col("community").as("cb")), Seq("dst"))
      .agg(count(lit(1)).as("m2"),
        sum(when(col("ca") === col("cb"), 1L).otherwise(0L)).as("intra2"))
      .crossJoin(broadcast(comm))
      .crossJoin(broadcast(nodes))
      .select(col("n_nodes"), expr("m2 div 2").as("n_edges"),
        col("n_communities"), expr("intra2 div 2").as("intra_edges"),
        when(col("m2") === 0L, lit(null).cast(LongType))
          .otherwise(expr(
            """cast(round(
              |  cast(cast(intra2 as decimal(38,0)) * m2 - sdc2 as double)
              |  / (cast(m2 as double) * cast(m2 as double))
              |  * 1000000) as bigint)""".stripMargin))
          .as("modularity_micros"))
  }

  /** HITS (Kleinberg 1999) over a BIPARTITE relation — hubs on the left,
    * authorities on the right. On the purchase graph (customer → part)
    * this separates two reads one degree count conflates: an
    * authoritative part is bought by HIGH-HUB customers (broad,
    * high-value buyers), not merely by many customers; a hub customer
    * buys AUTHORITATIVE parts, not merely many parts. The mutual
    * reinforcement is exactly the two-sided importance the flat
    * `basket_lift`/`item_similarity` co-occurrence ops can't express.
    *
    * Same integer fixed-point discipline as [[eigenvectorCentralityFromPairs]]:
    * scores start at 1e6, each half-round is one co-partitioned equi-join
    * + partial-agg shuffle, max-normalized by integer division (scores
    * are nonnegative so `div` = floor on both engines), localCheckpoint
    * EVERY round (the frame feeds both the join and the max — the
    * multi-reference loop rule). The edge frame is distinct (hub, auth)
    * pairs computed once; nodes with zero in-edges simply drop out, the
    * standard HITS convention on a connected bipartite core.
    */
  def hitsBipartite(edges: DataFrame, rounds: Int = 6): DataFrame = {
    require(rounds >= 1 && rounds <= 40, s"rounds out of range: $rounds")
    val e = edges.select(col("hub"), col("auth")).distinct().localCheckpoint()
    var auth = e.select(col("auth")).distinct()
      .withColumn("a", lit(1000000L)).localCheckpoint()
    var hub: DataFrame = null
    for (_ <- 1 to rounds) {
      // checkpoint the aggregate halves only (each is consumed twice:
      // its max anchor + the normalize projection — without the cut the
      // corpus-scale join+groupBy would replay per consumer). The
      // normalized hub/auth frames are NOT checkpointed (r16): their
      // lineage is one projection over the checkpointed aggregate plus a
      // 1-row broadcast — replaying that per consumer is cheaper than a
      // materialization job per half-round (was 4 jobs/round, now 2).
      val hr = e.join(auth, Seq("auth"))
        .groupBy(col("hub")).agg(sum(col("a")).as("xr")).localCheckpoint()
      val hmx = hr.agg(max(col("xr")).as("mx"))
      hub = hr.crossJoin(broadcast(hmx))
        .select(col("hub"), expr("(xr * 1000000) div mx").as("h"))
      val ar = e.join(hub, Seq("hub"))
        .groupBy(col("auth")).agg(sum(col("h")).as("xr")).localCheckpoint()
      val amx = ar.agg(max(col("xr")).as("mx"))
      auth = ar.crossJoin(broadcast(amx))
        .select(col("auth"), expr("(xr * 1000000) div mx").as("a"))
    }
    hub.select(lit("hub").as("side"), col("hub").as("node"), col("h").as("score_ppm"))
      .unionByName(auth.select(lit("auth").as("side"),
        col("auth").as("node"), col("a").as("score_ppm")))
  }
}
