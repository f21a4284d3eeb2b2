package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Distributed graph operators over DataFrames — the scale path for graph
  * queries that outgrow the driver-side Dag algebra (SURVEY §1.1 DAG note).
  *
  * g01 clusters near-duplicate documents into connected components — the
  * step a production dedup pipeline runs AFTER pair generation (d02/d03):
  * pairs say "a≈b"; components say "keep one doc per cluster".
  *
  * Algorithm: iterative min-label propagation. Each round every vertex
  * takes the min component id among itself and its neighbors; convergence
  * in O(diameter) rounds. Each round is one shuffle (join + groupBy on
  * vertex id); `localCheckpoint` truncates the plan between rounds so
  * lineage doesn't grow with iteration count. This is the standard
  * large-scale connected-components shape (cf. GraphX/GraphFrames'
  * label propagation); for graphs with huge diameter switch to
  * large-star/small-star, which the same loop skeleton carries.
  */
object GraphOps {

  /** Connected components of an undirected graph given as an edge list
    * (columns `da`, `db`, integral ids): returns (doc_id, component = min
    * reachable id) for every vertex appearing in an edge.
    *
    * Two physical strategies, picked by edge count:
    *  - **local finish** (≤ `localFinishEdges`): one executor task runs
    *    union-find over the whole edge list. Near-dup candidate graphs are
    *    tiny relative to the corpus that produced them (pairs ≪ docs), so
    *    after the distributed pair-generation this is the common case even
    *    at 100 TB — and it replaces O(diameter) shuffle rounds with ONE
    *    narrow job. Runs on an executor, not the driver: no collect.
    *  - **distributed min-label propagation** above the threshold: one
    *    shuffle per round, O(diameter) rounds, lineage truncated per round.
    */
  def components(edgesIn: DataFrame, localFinishEdges: Long = 5000000L): DataFrame = {
    val s = edgesIn.sparkSession
    import s.implicits._
    // normalize once, up front: both strategies must emit the same
    // (doc_id long, component long) schema — including NULLABILITY —
    // independent of which one the edge-count threshold picks. Nullable
    // parquet-derived edges would leave the loop branch nullable while
    // the local branch's tuple encoder is non-nullable; dropping null
    // endpoints (meaningless in an edge list) and coalescing forces
    // non-nullable on both paths.
    // EAGER checkpoint, kept deliberately: the round-14 40× stress A/B'd
    // the lazy (eager=false, count-triggered) form at 212-330 s per g01
    // run vs 178 s eager on 200k docs — the checkpoint job itself costs
    // ~1.4× a bare substrate pass either way (143.6 vs 104.6 s isolated),
    // and the substrate (the d02-class candidate aggregation) dominates
    // the query at every stressed scale; the single-process oracle never
    // finishes the loop families at all there (SURVEY §6 round-14).
    // Round 16 re-probed the lazy pin for TINY second closures (g18's
    // contracted graph, hoping to fold the pin into the strategy count
    // and save one job): 4/4 adjacent A/B pairs at docs10x measured the
    // lazy form 12-33% SLOWER on the whole query (mins 14.8 vs 11.1 s) —
    // eager stays for ALL inputs; do not re-try.
    val edges = edgesIn.na.drop(Seq("da", "db"))
      .select(
        coalesce($"da".cast("long"), lit(0L)).as("da"),
        coalesce($"db".cast("long"), lit(0L)).as("db"))
      .localCheckpoint() // edges are reused every round: compute once
    if (edges.count() <= localFinishEdges) {
      return edges
        .as[(Long, Long)]
        .coalesce(1)
        .mapPartitions { it =>
          val parent = scala.collection.mutable.LongMap.empty[Long]
          def find(x0: Long): Long = {
            var x = x0
            while (parent.getOrElse(x, x) != x) {
              val p = parent(x)
              parent(x) = parent.getOrElse(p, p) // path halving
              x = parent(x)
            }
            x
          }
          it.foreach { case (a, b) =>
            parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
            val ra = find(a); val rb = find(b)
            // min id becomes the representative
            if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
          }
          parent.keys.toArray.sorted.iterator.map(v => (v, find(v)))
        }
        .toDF("doc_id", "component")
    }
    val sym = edges.union(edges.select($"db".as("da"), $"da".as("db")))
    var labels = sym.select($"da".as("doc_id")).distinct()
      .withColumn("component", $"doc_id")
      .localCheckpoint()
    // Each round fuses propagate+update into ONE aggregation: a vertex's
    // next label is min over {its label} ∪ {in-neighbor labels}, computed
    // as union + groupBy-min (one shuffle; the labels side of the join is
    // tiny and broadcasts under AQE). Convergence check: sum(component)
    // is strictly monotone decreasing until fixpoint, so one cheap scalar
    // agg per round replaces the old join-back + filter + count job.
    def labelSum(df: DataFrame): Long = {
      val r = df.agg(sum($"component")).head
      if (r.isNullAt(0)) 0L else r.getLong(0) // null = empty vertex set
    }
    var prevSum = labelSum(labels)
    var done = labels.isEmpty
    while (!done) {
      val prop = sym.join(labels, $"da" === $"doc_id")
        .select($"db".as("doc_id"), $"component")
      labels = labels.union(prop)
        .groupBy($"doc_id").agg(min($"component").as("component"))
        .localCheckpoint()
      val s2 = labelSum(labels)
      if (sys.env.contains("SPARK_GRAFT_DEBUG"))
        System.err.println(s"[components] round sum=$s2 t=${System.nanoTime()}")
      done = s2 == prevSum
      prevSum = s2
    }
    // min() marks its output nullable; component is in fact never null, and
    // the local-finish branch emits non-nullable — coalesce with the
    // non-nullable key so the two strategies' schemas match exactly
    labels.select($"doc_id",
      coalesce($"component", $"doc_id").as("component"))
  }

  /** g01: connected components of the near-dup graph (d02 edges at
    * jaccard ≥ 0.5). */
  def g01(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    components(Dedup.jaccardPairs(s, dir, 0.5)).orderBy($"doc_id")
  }

  /** Recursive-CTE mirror: component = min id reachable in the closure. */
  val g01Sql: String =
    """WITH RECURSIVE words AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh0 AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
      |       FROM words, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)),
      |df AS (SELECT s, COUNT(*) AS df FROM sh0 GROUP BY s),
      |sh AS (SELECT doc_id, sh0.s FROM sh0 JOIN df ON sh0.s = df.s
      |       WHERE df.df <= 1000),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY a.doc_id, b.doc_id),
      |edges AS (SELECT da, db FROM inter
      |          JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
      |          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5),
      |sym AS (SELECT da, db FROM edges UNION SELECT db, da FROM edges),
      |nodes AS (SELECT DISTINCT da AS doc_id FROM sym),
      |reach(src, dst) AS (
      |  SELECT doc_id, doc_id FROM nodes
      |  UNION
      |  SELECT r.src, e.db FROM reach r JOIN sym e ON r.dst = e.da)
      |SELECT src AS doc_id, min(dst) AS component
      |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin

  /** Per-vertex triangle counts of an undirected simple graph given as an
    * edge list (`da` < `db` guaranteed by the pair generators). The
    * standard distributed shape: orient every edge low→high so each
    * triangle {a<b<c} is found exactly once as the wedge (a→b, a→c)
    * closed by edge (b→c), then credit all three corners. Two shuffle
    * joins on vertex ids + one groupBy — no iteration. At scale the wedge
    * join is the hot spot; its size is Σ deg(v)² over low-degree
    * orientation, the minimum possible for exact counting.
    */
  def triangles(edgesIn: DataFrame): DataFrame = {
    val s = edgesIn.sparkSession
    import s.implicits._
    val e = edgesIn.select($"da".cast("long").as("da"), $"db".cast("long").as("db"))
      // reused three times (wedges + closing + vertex set); lazy so the
      // materialization runs inside the first consumer instead of its own job
      .localCheckpoint(eager = false)
    trianglesOf(e)
  }

  /** Triangle counting over an ALREADY-reusable (checkpointed) long edge
    * frame — callers that share the edge list with other consumers (g05)
    * use this to avoid materializing a second copy. */
  private def trianglesOf(e: DataFrame): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    // wedges from a common low endpoint: (a,b,c) with a<b<c
    val wedges = e.as("x").join(e.as("y"),
      col("x.da") === col("y.da") && col("x.db") < col("y.db"))
      .select(col("x.da").as("a"), col("x.db").as("b"), col("y.db").as("c"))
    val tri = wedges.join(e.as("z"),
      col("b") === col("z.da") && col("c") === col("z.db"))
      .select($"a", $"b", $"c")
    // credit each corner; count(lit(1)) aggregates map-side before shuffle
    val perVertex = tri.select(explode(array($"a", $"b", $"c")).as("doc_id"))
      .groupBy($"doc_id").agg(count(lit(1)).as("n_triangles"))
    // left join so triangle-free vertices report 0, not absence
    e.select($"da".as("doc_id")).union(e.select($"db".as("doc_id"))).distinct()
      .join(perVertex, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_triangles", lit(0L)).as("n_triangles"))
  }

  /** g02: per-vertex triangle counts of the near-dup graph (same d02
    * edges at jaccard ≥ 0.5 as g01) — the clustering-coefficient
    * numerator a curation pipeline uses to tell tight duplicate cliques
    * from chain-shaped false-positive components. */
  def g02(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    triangles(Dedup.jaccardPairs(s, dir, 0.5)).orderBy($"doc_id")
  }

  val g02Sql: String =
    """WITH words AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh0 AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
      |       FROM words, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)),
      |df AS (SELECT s, COUNT(*) AS df FROM sh0 GROUP BY s),
      |sh AS (SELECT doc_id, sh0.s FROM sh0 JOIN df ON sh0.s = df.s
      |       WHERE df.df <= 1000),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY a.doc_id, b.doc_id),
      |edges AS (SELECT da, db FROM inter
      |          JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
      |          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5),
      |tri AS (SELECT x.da AS a, x.db AS b, y.db AS c
      |        FROM edges x JOIN edges y ON x.da = y.da AND x.db < y.db
      |        JOIN edges z ON z.da = x.db AND z.db = y.db),
      |corners AS (
      |  SELECT a AS doc_id FROM tri UNION ALL
      |  SELECT b FROM tri UNION ALL
      |  SELECT c FROM tri),
      |verts AS (SELECT da AS doc_id FROM edges UNION SELECT db FROM edges)
      |SELECT v.doc_id,
      |  COALESCE((SELECT COUNT(*) FROM corners c WHERE c.doc_id = v.doc_id), 0)
      |    AS n_triangles
      |FROM verts v ORDER BY doc_id""".stripMargin

  /** g03: degree histogram of the near-dup graph (same d02 edges at
    * jaccard ≥ 0.5) — the shape diagnostic read BEFORE clustering: a
    * heavy right tail means a template/boilerplate hub that will glue
    * unrelated docs into one giant component (and warrants a stop-shingle
    * pass first). Both endpoints of each edge are emitted by ONE
    * `explode(array(da, db))` over a single scan of the pair set — a
    * union of two projections would recompute the (expensive) pair join
    * twice. Two tiny aggregates after that. */
  def g03(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Dedup.jaccardPairs(s, dir, 0.5)
    e.select(explode(array($"da", $"db")).as("doc_id"))
      .groupBy($"doc_id").agg(count(lit(1)).as("degree"))
      .groupBy($"degree").agg(count(lit(1)).as("n_docs"))
      .orderBy($"degree")
  }

  val g03Sql: String =
    """WITH words AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh0 AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
      |       FROM words, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)),
      |df AS (SELECT s, COUNT(*) AS df FROM sh0 GROUP BY s),
      |sh AS (SELECT doc_id, sh0.s FROM sh0 JOIN df ON sh0.s = df.s
      |       WHERE df.df <= 1000),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY a.doc_id, b.doc_id),
      |edges AS (SELECT da, db FROM inter
      |          JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
      |          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5),
      |ends AS (SELECT da AS doc_id FROM edges UNION ALL SELECT db FROM edges),
      |deg AS (SELECT doc_id, COUNT(*) AS degree FROM ends GROUP BY doc_id)
      |SELECT degree, COUNT(*) AS n_docs FROM deg
      |GROUP BY degree ORDER BY degree""".stripMargin

  /** Fixed-point power iteration for PageRank over an undirected edge
    * list (`da` < `db`), fully INTEGER so the result is a pure function
    * of the graph: ranks live in units of 10⁻¹² (start = `Scale`), each
    * round a vertex emits `rank div degree` to every neighbor and
    * collects `floor(0.15·Scale) + (85 · Σ inbound) div 100`. Integer
    * sums are order-independent and `div` floors identically in every
    * engine, so — unlike a floating-point PageRank, whose partial-sum
    * ordering differs run to run — the oracle hash-matches exactly.
    *
    * Scale (100 TB graph): the classic iterative join-agg loop — the
    * edge list and degrees compute ONCE and block-reuse every round
    * (lazy checkpoint); each round is one join (rank side ≪ edges, AQE
    * broadcasts it) plus one map-side-combining sum, and the per-round
    * checkpoint truncates lineage so plans don't grow with iteration
    * count — the same skeleton as [[components]]' propagation loop.
    * Rounds are FIXED (3) rather than convergence-tested: a production
    * run raises the count (or tests an integer ε on Σ|Δrank|), same
    * skeleton, and fixed rounds keep the op's cost predictable. */
  def pagerank(edgesIn: DataFrame, iters: Int = 3): DataFrame = {
    val s = edgesIn.sparkSession
    import s.implicits._
    val Scale = 1000000000000L // 10^12 rank units per unit of mass
    val e = edgesIn.select($"da".cast("long").as("da"), $"db".cast("long").as("db"))
    val sym = e.union(e.select($"db".as("da"), $"da".as("db")))
      .localCheckpoint(eager = false) // reused every round
    // undirected degree = out-degree = in-degree per vertex
    val deg = sym.groupBy($"da").agg(count(lit(1)).as("deg"))
      .select($"da".as("doc_id"), $"deg")
      .localCheckpoint(eager = false)
    var ranks = deg.select($"doc_id", $"deg", lit(Scale).as("rank"))
    for (_ <- 1 to iters) {
      // column names are disjoint across every join below (doc_id/deg vs
      // da/db/c/in_sum), so joins resolve by name — no dataset-tagged
      // refs that would trip ambiguous-self-join detection on the shared
      // deg lineage
      val contrib = ranks.select($"doc_id".as("src"), expr("rank div deg").as("c"))
      // the inbound sum and the 85× damping run in DECIMAL(38,0): a hub
      // with ~10⁵ neighbors at rank scale 10¹² already pushes 85·Σ past
      // Long.MaxValue, where int64 would silently wrap (and diverge from
      // the oracle's 128-bit sums). `div` floors the decimal back to a
      // long rank; individual ranks are bounded by the total mass n·S,
      // so they fit int64 up to ~9·10⁶ vertices of fully-concentrated
      // mass — shrink S for graphs beyond that.
      val inbound = sym.join(contrib, $"da" === $"src")
        .groupBy($"db")
        .agg(sum($"c".cast(DecimalType(38, 0))).as("in_sum"))
      // every vertex of a symmetrized edge list has inbound edges, but
      // the left join + coalesce keeps the loop total on general digraphs
      ranks = deg.join(inbound, $"doc_id" === $"db", "left")
        .select($"doc_id", $"deg",
          (lit(15L * Scale / 100) +
            expr("(coalesce(in_sum, CAST(0 AS DECIMAL(38,0))) * 85) div 100"))
            .as("rank"))
        .localCheckpoint(eager = false)
    }
    ranks.select($"doc_id", $"rank")
  }

  /** g04: 3-round integer PageRank of the near-dup graph (same d02 edges
    * at jaccard ≥ 0.5) — the centrality signal a curation pipeline uses
    * to pick the canonical document inside a duplicate cluster (the
    * highest-rank member is the most-corroborated copy). */
  def g04(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    pagerank(Dedup.jaccardPairs(s, dir, 0.5)).orderBy($"doc_id")
  }

  /** The 3 rounds unrolled; `//` floors like Spark's `div`, and the
    * sums/damping stay in HUGEINT — the 128-bit mirror of the Spark
    * plan's DECIMAL(38,0) damping domain — casting to BIGINT only at
    * the final rank. */
  val g04Sql: String =
    """WITH words AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh0 AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
      |       FROM words, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)),
      |df AS (SELECT s, COUNT(*) AS df FROM sh0 GROUP BY s),
      |sh AS (SELECT doc_id, sh0.s FROM sh0 JOIN df ON sh0.s = df.s
      |       WHERE df.df <= 1000),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY a.doc_id, b.doc_id),
      |edges AS (SELECT da, db FROM inter
      |          JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
      |          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5),
      |sym AS (SELECT da, db FROM edges UNION ALL SELECT db, da FROM edges),
      |deg AS (SELECT da AS doc_id, COUNT(*) AS deg FROM sym GROUP BY da),
      |r0 AS (SELECT doc_id, deg, CAST(1000000000000 AS BIGINT) AS rank FROM deg),
      |c0 AS (SELECT doc_id, rank // deg AS c FROM r0),
      |i0 AS (SELECT sym.db AS doc_id, SUM(c) AS s
      |       FROM sym JOIN c0 ON sym.da = c0.doc_id GROUP BY sym.db),
      |r1 AS (SELECT deg.doc_id, deg.deg,
      |         150000000000 + (85 * COALESCE(i0.s, 0)) // 100 AS rank
      |       FROM deg LEFT JOIN i0 ON deg.doc_id = i0.doc_id),
      |c1 AS (SELECT doc_id, rank // deg AS c FROM r1),
      |i1 AS (SELECT sym.db AS doc_id, SUM(c) AS s
      |       FROM sym JOIN c1 ON sym.da = c1.doc_id GROUP BY sym.db),
      |r2 AS (SELECT deg.doc_id, deg.deg,
      |         150000000000 + (85 * COALESCE(i1.s, 0)) // 100 AS rank
      |       FROM deg LEFT JOIN i1 ON deg.doc_id = i1.doc_id),
      |c2 AS (SELECT doc_id, rank // deg AS c FROM r2),
      |i2 AS (SELECT sym.db AS doc_id, SUM(c) AS s
      |       FROM sym JOIN c2 ON sym.da = c2.doc_id GROUP BY sym.db),
      |r3 AS (SELECT deg.doc_id,
      |         CAST(150000000000 + (85 * COALESCE(i2.s, 0)) // 100 AS BIGINT)
      |           AS rank
      |       FROM deg LEFT JOIN i2 ON deg.doc_id = i2.doc_id)
      |SELECT doc_id, rank FROM r3 ORDER BY doc_id""".stripMargin

  /** Local clustering coefficient per vertex: 2·triangles / (deg·(deg−1)),
    * 0 for degree-1 vertices — the [0,1] "how clique-like is this doc's
    * neighborhood" number that turns g02's raw triangle counts into a
    * thresholdable dedup-cluster confidence (1.0 = verbatim-copy clique;
    * near 0 = chain of borderline matches that should NOT collapse to
    * one canonical doc). Both inputs are exact integers and the
    * coefficient is one IEEE division rounded to 6 decimals, so it
    * hash-matches any engine. Plan: g02's wedge join + one degree
    * aggregate over the same edge list, joined on vertex id — the edge
    * list is checkpointed here so both consumers reuse its blocks. */
  def clusteringCoefficient(edgesIn: DataFrame): DataFrame = {
    val s = edgesIn.sparkSession
    import s.implicits._
    val e = edgesIn.select($"da".cast("long").as("da"), $"db".cast("long").as("db"))
      .localCheckpoint(eager = false) // consumed by triangles + degrees
    val tri = trianglesOf(e)
    val deg = e.select(explode(array($"da", $"db")).as("doc_id"))
      .groupBy($"doc_id").agg(count(lit(1)).as("degree"))
    tri.join(deg, Seq("doc_id"))
      .select($"doc_id", $"degree", $"n_triangles",
        when($"degree" > 1,
          round(($"n_triangles" * 2).cast("double") /
            ($"degree" * ($"degree" - 1)), 6))
          .otherwise(lit(0.0)).as("clustering"))
  }

  /** g05: local clustering coefficient of the near-dup graph (same d02
    * edges at jaccard ≥ 0.5 as g01–g04). */
  def g05(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    clusteringCoefficient(Dedup.jaccardPairs(s, dir, 0.5)).orderBy($"doc_id")
  }

  val g05Sql: String =
    """WITH words AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh0 AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
      |       FROM words, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)),
      |df AS (SELECT s, COUNT(*) AS df FROM sh0 GROUP BY s),
      |sh AS (SELECT doc_id, sh0.s FROM sh0 JOIN df ON sh0.s = df.s
      |       WHERE df.df <= 1000),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY a.doc_id, b.doc_id),
      |edges AS (SELECT da, db FROM inter
      |          JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
      |          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5),
      |tri AS (SELECT x.da AS a, x.db AS b, y.db AS c
      |        FROM edges x JOIN edges y ON x.da = y.da AND x.db < y.db
      |        JOIN edges z ON z.da = x.db AND z.db = y.db),
      |corners AS (
      |  SELECT a AS doc_id FROM tri UNION ALL
      |  SELECT b FROM tri UNION ALL
      |  SELECT c FROM tri),
      |ends AS (SELECT da AS doc_id FROM edges UNION ALL SELECT db FROM edges),
      |deg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS degree
      |        FROM ends GROUP BY doc_id),
      |nt AS (SELECT d.doc_id, d.degree,
      |         CAST(COALESCE((SELECT COUNT(*) FROM corners c
      |                        WHERE c.doc_id = d.doc_id), 0) AS BIGINT)
      |           AS n_triangles
      |       FROM deg d)
      |SELECT doc_id, degree, n_triangles,
      |  CASE WHEN degree > 1
      |    THEN round(CAST(n_triangles * 2 AS DOUBLE) / (degree * (degree - 1)), 6)
      |    ELSE 0.0 END AS clustering
      |FROM nt ORDER BY doc_id""".stripMargin

  /** Bounded k-core peeling: repeatedly delete vertices of degree < `kc`
    * (and their edges), `rounds` times; return the surviving vertices
    * with their degree in the surviving subgraph. The k-core is the
    * dedup-cluster DENSITY filter g03's raw degrees can't give: a
    * template hub has huge degree but its satellite docs don't support
    * each other, so one peel round dissolves the star — only mutually-
    * corroborating near-dup groups (cycles, cliques) survive a 2-core.
    *
    * Rounds are FIXED rather than convergence-tested, g04's trade: cost
    * stays predictable and each round is one degree aggregate + two
    * semi-joins on vertex id, with a lazy checkpoint truncating lineage
    * so plans don't grow with iteration. Peel cascades longer than
    * `rounds` (rare on near-dup graphs, whose components are shallow)
    * leave sub-kc vertices behind — a production run raises `rounds` or
    * loops until `edges.count()` is stable, same skeleton.
    *
    * Two physical strategies, the [[labelPropagation]]/components trade:
    * near-dup edge sets are tiny relative to the corpus, so under
    * `localFinishEdges` ONE executor task peels in memory — identical
    * output to the distributed loop by construction (same per-round
    * degree test on the current surviving edge set), pinned by
    * GraphOpsSpec, and it replaces rounds × (agg + 2 semi-joins +
    * checkpoint) of pure stage latency. No collect — the task runs on
    * an executor. */
  def kcore(edgesIn: DataFrame, kc: Int = 2, rounds: Int = 3,
      localFinishEdges: Long = 5000000L): DataFrame = {
    val s = edgesIn.sparkSession
    import s.implicits._
    var edges = edgesIn
      .select($"da".cast("long").as("da"), $"db".cast("long").as("db"))
      .localCheckpoint() // reused: count + (either strategy's) rounds
    if (edges.count() <= localFinishEdges) {
      return edges.as[(Long, Long)].coalesce(1).mapPartitions { it =>
        var es = it.toArray
        for (_ <- 1 to rounds) {
          val deg = scala.collection.mutable.LongMap.empty[Long]
          es.foreach { case (a, b) =>
            deg(a) = deg.getOrElse(a, 0L) + 1L
            deg(b) = deg.getOrElse(b, 0L) + 1L
          }
          es = es.filter { case (a, b) =>
            deg(a) >= kc && deg(b) >= kc
          }
        }
        val deg = scala.collection.mutable.LongMap.empty[Long]
        es.foreach { case (a, b) =>
          deg(a) = deg.getOrElse(a, 0L) + 1L
          deg(b) = deg.getOrElse(b, 0L) + 1L
        }
        deg.keys.toArray.sorted.iterator.map(v => (v, deg(v)))
      }.toDF("doc_id", "degree")
    }
    def degrees(e: DataFrame): DataFrame =
      e.select(explode(array($"da", $"db")).as("doc_id"))
        .groupBy($"doc_id").agg(count(lit(1)).as("degree"))
    for (_ <- 1 to rounds) {
      val keep = degrees(edges).filter($"degree" >= kc).select($"doc_id".as("v"))
      edges = edges
        .join(keep, $"da" === $"v", "left_semi")
        .join(keep, $"db" === $"v", "left_semi")
        .localCheckpoint(eager = false)
    }
    degrees(edges)
  }

  /** g06: 2-core of the near-dup graph (same d02 edges at jaccard ≥ 0.5
    * as g01–g05), 3 peel rounds. */
  def g06(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    kcore(Dedup.jaccardPairs(s, dir, 0.5)).orderBy($"doc_id")
  }

  /** The 3 peel rounds unrolled over the shared edge prelude. */
  val g06Sql: String =
    """WITH words AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh0 AS MATERIALIZED (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
      |       FROM words, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)),
      |df AS (SELECT s, COUNT(*) AS df FROM sh0 GROUP BY s),
      |sh AS MATERIALIZED (SELECT doc_id, sh0.s FROM sh0 JOIN df ON sh0.s = df.s
      |       WHERE df.df <= 1000),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY a.doc_id, b.doc_id),
      |e0 AS MATERIALIZED (SELECT da, db FROM inter
      |       JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
      |       WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5),
      |d1 AS (SELECT doc_id, COUNT(*) AS deg FROM (
      |         SELECT da AS doc_id FROM e0 UNION ALL SELECT db FROM e0)
      |       GROUP BY doc_id),
      |k1 AS (SELECT doc_id FROM d1 WHERE deg >= 2),
      |e1 AS MATERIALIZED (SELECT da, db FROM e0
      |       WHERE da IN (SELECT doc_id FROM k1) AND db IN (SELECT doc_id FROM k1)),
      |d2 AS (SELECT doc_id, COUNT(*) AS deg FROM (
      |         SELECT da AS doc_id FROM e1 UNION ALL SELECT db FROM e1)
      |       GROUP BY doc_id),
      |k2 AS (SELECT doc_id FROM d2 WHERE deg >= 2),
      |e2 AS MATERIALIZED (SELECT da, db FROM e1
      |       WHERE da IN (SELECT doc_id FROM k2) AND db IN (SELECT doc_id FROM k2)),
      |d3 AS (SELECT doc_id, COUNT(*) AS deg FROM (
      |         SELECT da AS doc_id FROM e2 UNION ALL SELECT db FROM e2)
      |       GROUP BY doc_id),
      |k3 AS (SELECT doc_id FROM d3 WHERE deg >= 2),
      |e3 AS (SELECT da, db FROM e2
      |       WHERE da IN (SELECT doc_id FROM k3) AND db IN (SELECT doc_id FROM k3))
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS degree FROM (
      |  SELECT da AS doc_id FROM e3 UNION ALL SELECT db FROM e3)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- g07
  /** Duplicate-cluster profile — the step that turns graph output into
    * curation decisions: each g01 component joined back to `documents`
    * and summarized (size, distinct sources, canonical = min doc_id,
    * total chars). A cluster spanning many sources is syndication /
    * mirroring; a large single-source cluster is a template; the
    * canonical id is the doc d07 keeps.
    *
    * Scale (100 TB): the component labels cover only documents that
    * appear in near-dup edges — a small fraction of the corpus, but one
    * that GROWS with it, so the label frame carries no broadcast hint:
    * AQE broadcasts it below the threshold and shuffles the (inner-join
    * reduced, id+source+n_chars only) sides beyond it; the profile
    * aggregate keys on component ids (≤ |labeled docs|), with map-side
    * partials. */
  def g07(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val labels = components(Dedup.jaccardPairs(s, dir, 0.5))
    Tables.t(s, dir, "documents")
      .join(labels, Seq("doc_id"))
      .groupBy($"component")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct($"source").as("n_sources"),
        min($"doc_id").as("canonical_doc"),
        sum($"n_chars").as("total_chars"))
      .orderBy($"component")
  }

  /** g01's recursive-CTE closure, profiled against `documents`. */
  val g07Sql: String =
    """WITH RECURSIVE words AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh0 AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
      |       FROM words, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)),
      |df AS (SELECT s, COUNT(*) AS df FROM sh0 GROUP BY s),
      |sh AS (SELECT doc_id, sh0.s FROM sh0 JOIN df ON sh0.s = df.s
      |       WHERE df.df <= 1000),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY a.doc_id, b.doc_id),
      |edges AS (SELECT da, db FROM inter
      |          JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
      |          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5),
      |sym AS (SELECT da, db FROM edges UNION SELECT db, da FROM edges),
      |nodes AS (SELECT DISTINCT da AS doc_id FROM sym),
      |reach(src, dst) AS (
      |  SELECT doc_id, doc_id FROM nodes
      |  UNION
      |  SELECT r.src, e.db FROM reach r JOIN sym e ON r.dst = e.da),
      |labels AS (SELECT src AS doc_id, min(dst) AS component
      |           FROM reach GROUP BY src)
      |SELECT l.component,
      |  COUNT(*) AS n_docs,
      |  CAST(COUNT(DISTINCT d.source) AS BIGINT) AS n_sources,
      |  MIN(d.doc_id) AS canonical_doc,
      |  CAST(SUM(d.n_chars) AS BIGINT) AS total_chars
      |FROM labels l JOIN documents d ON l.doc_id = d.doc_id
      |GROUP BY l.component ORDER BY l.component""".stripMargin

  // ---------------------------------------------------------------- g08
  /** Bounded-hop BFS from a seed set over an undirected edge list:
    * (doc_id, hops) with hops = min #edges from any seed, for every
    * vertex within `maxHops`. Classic frontier expansion: each round
    * joins the previous frontier to the edges, anti-joins everything
    * already reached (so the first discovery IS the min distance), and
    * checkpoints the grown reached set to keep lineage flat — the same
    * per-round skeleton as [[pagerank]] and [[components]].
    *
    * Scale (100 TB): the edge list computes once and block-reuses every
    * round; frontier and reached sets are pair-graph-sized (≪ corpus),
    * so AQE broadcasts them into each round's join. Rounds are bounded
    * by `maxHops`, not convergence — the cost is H joins, flat. */
  def bfsHops(edgesIn: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    val s = edgesIn.sparkSession
    import s.implicits._
    val e = edgesIn.select($"da".cast("long").as("da"), $"db".cast("long").as("db"))
    val sym = e.union(e.select($"db".as("da"), $"da".as("db")))
      .localCheckpoint(eager = false) // reused every round
    var reached = seeds.select($"doc_id".cast("long").as("doc_id"))
      .distinct()
      .withColumn("hops", lit(0L))
      .localCheckpoint(eager = false)
    var frontier = reached.select($"doc_id")
    for (h <- 1 to maxHops) {
      val next = sym.join(frontier.withColumnRenamed("doc_id", "da"), Seq("da"))
        .select($"db".as("doc_id")).distinct()
        .join(reached.select($"doc_id"), Seq("doc_id"), "left_anti")
        .withColumn("hops", lit(h.toLong))
        .localCheckpoint(eager = false)
      reached = reached.union(next).localCheckpoint(eager = false)
      frontier = next.select($"doc_id")
    }
    reached
  }

  /** g08: contamination blast radius — min near-dup hops (≤ 3) from any
    * directly-contaminated document (shares a 4-gram with the eval
    * sample, d06's hit set) over the jaccard ≥ 0.5 near-dup graph. Hop 0
    * is the direct hit; hops 1..3 are documents a leakage audit should
    * quarantine even though no eval n-gram appears in them verbatim —
    * they are rephrasings of documents that do. */
  def g08(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val grams = Dedup.grams4(Tables.t(s, dir, "documents"))
    val evalG = grams.filter($"doc_id" % 97 === 0).select($"g").distinct()
    val seeds = grams.filter($"doc_id" % 97 =!= 0)
      .join(broadcast(evalG), Seq("g"))
      .select($"doc_id").distinct()
    bfsHops(Dedup.jaccardPairs(s, dir, 0.5), seeds, maxHops = 3)
      .orderBy($"doc_id")
  }

  /** The BFS as a hop-bounded recursive CTE; MIN(hops) collapses the
    * multiple discovery paths to the BFS distance the frontier loop
    * finds by construction. */
  val g08Sql: String =
    """WITH RECURSIVE words AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh0 AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
      |       FROM words, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)),
      |df AS (SELECT s, COUNT(*) AS df FROM sh0 GROUP BY s),
      |sh AS (SELECT doc_id, sh0.s FROM sh0 JOIN df ON sh0.s = df.s
      |       WHERE df.df <= 1000),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY a.doc_id, b.doc_id),
      |edges AS (SELECT da, db FROM inter
      |          JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
      |          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5),
      |sym AS (SELECT da, db FROM edges UNION SELECT db, da FROM edges),
      |g4 AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+3], ' ') AS g0
      |       FROM words, UNNEST(generate_series(1, len(ws) - 3)) AS t(i)
      |       WHERE len(ws) >= 4),
      |seeds AS (SELECT DISTINCT t.doc_id FROM g4 t JOIN g4 e ON t.g0 = e.g0
      |          WHERE e.doc_id % 97 = 0 AND t.doc_id % 97 <> 0),
      |bfs(doc_id, hops) AS (
      |  SELECT doc_id, CAST(0 AS BIGINT) FROM seeds
      |  UNION ALL
      |  SELECT e.db, b.hops + 1 FROM bfs b JOIN sym e ON b.doc_id = e.da
      |  WHERE b.hops < 3)
      |SELECT doc_id, MIN(hops) AS hops FROM bfs
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- g09
  /** Bipartite projection of the user↔event_type graph: for every pair
    * of event types, how many users did both, plus the overlap
    * coefficient |A∩B| / min(|A|,|B|) — the co-engagement graph used
    * for behavioral clustering and feature co-occurrence audits.
    *
    * Scale (100 TB): the raw log first reduces to distinct
    * (user, event_type) — map-side combinable, output ≤ |users|·|types|.
    * The pair join is per-user with bounded fan-out (|types| is a small
    * fixed vocabulary, so each user contributes ≤ C(|types|,2) pairs —
    * NOT a quadratic blowup), and per-type totals are a tiny broadcast
    * joined twice onto the pair counts. */
  /** g09 kernel on any (user_id, event_type) membership frame —
    * unit-tested on hand-built bipartite graphs. */
  private[graft] def bipartiteOverlap(members: DataFrame): DataFrame = {
    val s = members.sparkSession
    import s.implicits._
    val ue = members.select($"user_id", $"event_type").distinct()
    val totals = ue.groupBy($"event_type").agg(count(lit(1)).as("n_users"))
    val a = ue.select($"user_id", $"event_type".as("et_a"))
    val b = ue.select($"user_id", $"event_type".as("et_b"))
    a.join(b, Seq("user_id")).filter($"et_a" < $"et_b")
      .groupBy($"et_a", $"et_b").agg(count(lit(1)).as("n_both"))
      .join(broadcast(totals.select($"event_type".as("et_a"), $"n_users".as("na"))), Seq("et_a"))
      .join(broadcast(totals.select($"event_type".as("et_b"), $"n_users".as("nb"))), Seq("et_b"))
      .select($"et_a", $"et_b", $"n_both", $"na", $"nb",
        // exact ints → one IEEE division, round 6: engine-independent
        round($"n_both".cast("double") / least($"na", $"nb"), 6).as("overlap"))
      .orderBy($"et_a", $"et_b")
  }

  def g09(s: SparkSession, dir: String): DataFrame =
    bipartiteOverlap(Tables.t(s, dir, "events"))

  val g09Sql: String =
    """WITH ue AS (SELECT DISTINCT user_id, event_type FROM events),
      |totals AS (SELECT event_type, COUNT(*) AS n_users FROM ue GROUP BY 1),
      |pairs AS (
      |  SELECT a.event_type AS et_a, b.event_type AS et_b, COUNT(*) AS n_both
      |  FROM ue a JOIN ue b ON a.user_id = b.user_id
      |  WHERE a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT et_a, et_b, n_both, ta.n_users AS na, tb.n_users AS nb,
      |  round(CAST(n_both AS DOUBLE) / least(ta.n_users, tb.n_users), 6)
      |    AS overlap
      |FROM pairs
      |JOIN totals ta ON ta.event_type = et_a
      |JOIN totals tb ON tb.event_type = et_b
      |ORDER BY et_a, et_b""".stripMargin

  // ---------------------------------------------------------------- g10
  /** Degree assortativity of the near-dup graph (Newman's r): the
    * Pearson correlation of endpoint degrees over all directed edge
    * stubs. Positive r = hubs link to hubs (one template family gluing
    * itself together); negative r = hub-and-spoke boilerplate (one
    * canonical doc matched by many singletons). Read alongside g03's
    * degree histogram before trusting g01's clusters.
    *
    * Determinism: every moment (M, Σx, Σxy, Σx²) is an exact integer
    * sum in DECIMAL(38,0) — degrees are ints, and the symmetric stub
    * list makes the x and y marginals identical — so r reduces to ONE
    * IEEE division of two exactly-computed integers, then round(6).
    *
    * Scale (100 TB): the near-dup edge list is already ≪ corpus, but its
    * VERTEX set is unbounded (a crawl with heavy syndication grows it
    * with the corpus), so the per-vertex degree table must never
    * broadcast — it rides SHUFFLE_HASH joins (hash-partitioned build
    * per task, no driver collect, no executor-wide copy) onto the
    * stubs, and the moments are a single global aggregate. Nothing
    * here touches the raw corpus. */
  private[graft] def assortativity(edgesIn: DataFrame): DataFrame = {
    val s = edgesIn.sparkSession
    import s.implicits._
    val dec0 = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(38, 0))
    val stubs = edgesIn.select($"da".as("x"), $"db".as("y"))
      .union(edgesIn.select($"db".as("x"), $"da".as("y")))
    val deg = stubs.groupBy($"x".as("doc_id")).agg(count(lit(1)).as("deg"))
    val joined = stubs
      .join(deg.select($"doc_id".as("x"), $"deg".as("dx"))
        .hint("SHUFFLE_HASH"), Seq("x"))
      .join(deg.select($"doc_id".as("y"), $"deg".as("dy"))
        .hint("SHUFFLE_HASH"), Seq("y"))
    joined
      .agg(
        count(lit(1)).as("m"),
        sum(dec0($"dx")).as("sx"),
        sum(dec0($"dx") * dec0($"dy")).as("sxy"),
        sum(dec0($"dx") * dec0($"dx")).as("sxx"))
      .select(
        ($"m" / 2).cast("long").as("n_edges"),
        // a regular graph has zero degree variance: r is undefined → null
        // (an unguarded 0/0 would yield NaN, and differ from SQL's CASE)
        when($"m" * $"sxx" - $"sx" * $"sx" =!= 0,
          round(
            ($"m" * $"sxy" - $"sx" * $"sx").cast("double") /
              ($"m" * $"sxx" - $"sx" * $"sx").cast("double"), 6))
          .as("assortativity"))
  }

  def g10(s: SparkSession, dir: String): DataFrame =
    assortativity(Dedup.jaccardPairs(s, dir, 0.5))

  val g10Sql: String =
    """WITH words AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh0 AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
      |       FROM words, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)),
      |df AS (SELECT s, COUNT(*) AS df FROM sh0 GROUP BY s),
      |sh AS (SELECT doc_id, sh0.s FROM sh0 JOIN df ON sh0.s = df.s
      |       WHERE df.df <= 1000),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY a.doc_id, b.doc_id),
      |e0 AS MATERIALIZED (SELECT da, db FROM inter
      |       JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
      |       WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5),
      |stubs AS (SELECT da AS x, db AS y FROM e0
      |          UNION ALL SELECT db AS x, da AS y FROM e0),
      |deg AS (SELECT x AS doc_id, COUNT(*) AS deg FROM stubs GROUP BY x),
      |moments AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS m,
      |    SUM(CAST(dx.deg AS HUGEINT)) AS sx,
      |    SUM(CAST(dx.deg AS HUGEINT) * dy.deg) AS sxy,
      |    SUM(CAST(dx.deg AS HUGEINT) * dx.deg) AS sxx
      |  FROM stubs
      |  JOIN deg dx ON stubs.x = dx.doc_id
      |  JOIN deg dy ON stubs.y = dy.doc_id)
      |SELECT CAST(m // 2 AS BIGINT) AS n_edges,
      |  CASE WHEN m * sxx - sx * sx <> 0
      |       THEN round(CAST(m * sxy - sx * sx AS DOUBLE) /
      |                  CAST(m * sxx - sx * sx AS DOUBLE), 6)
      |  END AS assortativity
      |FROM moments""".stripMargin

  // ---------------------------------------------------------------- g11
  /** Newman modularity of the SOURCE partition over the near-dup graph:
    * does provenance explain the duplication? Q near its maximum means
    * near-dups stay inside their source (internal boilerplate — fix per
    * source); Q near 0 means the duplication is cross-source syndication
    * (mirrors — fix with d11's overlap matrix). Complements g10: that
    * scores degree mixing, this scores partition mixing.
    *
    * Determinism: with Σ_s e_s (intra-source edges), Σ_s d_s² (squared
    * per-source degree mass) and m all exact integers,
    * Q = (4m·Σe_s − Σd_s²) / 4m² is ONE IEEE division of two exactly-
    * computed integers, then round(6).
    *
    * Scale (100 TB): the edge list is ≪ corpus but its VERTEX set grows
    * with the corpus, so neither the endpoint set nor the vertex→source
    * label map carries a broadcast hint: AQE broadcasts them below the
    * threshold, and beyond it the joins shuffle id/source columns only —
    * the corpus scan reduces to (doc_id, source) before anything joins
    * and document text never moves. All aggregates are map-side
    * combinable. */
  private[graft] def sourceModularity(edgesIn: DataFrame, docs: DataFrame): DataFrame = {
    val s = edgesIn.sparkSession
    import s.implicits._
    val dec0 = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(38, 0))
    val edges = edgesIn.select($"da", $"db").localCheckpoint(eager = false)
    val verts = edges.select($"da".as("doc_id"))
      .union(edges.select($"db".as("doc_id"))).distinct()
    val lab = docs.select($"doc_id", $"source")
      .join(verts, Seq("doc_id"))
    val labeled = edges
      .join(lab.select($"doc_id".as("da"), $"source".as("sa")), Seq("da"))
      .join(lab.select($"doc_id".as("db"), $"source".as("sb")), Seq("db"))
    // per-source degree mass: each edge contributes one stub per side
    val dmass = labeled.select(explode(array($"sa", $"sb")).as("source"))
      .groupBy($"source").agg(count(lit(1)).as("ds"))
    val moments = labeled.agg(
        count(lit(1)).as("m"),
        sum(when($"sa" === $"sb", 1L).otherwise(0L)).as("intra"))
      .crossJoin(broadcast(
        dmass.agg(sum(dec0($"ds") * dec0($"ds")).as("dsq"),
          count(lit(1)).as("n_sources"))))
    moments.select(
      $"m".as("n_edges"), $"intra".as("intra_edges"), $"n_sources",
      round(
        (lit(4) * dec0($"m") * dec0($"intra") - $"dsq").cast("double") /
          (lit(4) * dec0($"m") * dec0($"m")).cast("double"), 6)
        .as("modularity"))
  }

  def g11(s: SparkSession, dir: String): DataFrame =
    sourceModularity(
      Dedup.jaccardPairs(s, dir, 0.5), Tables.t(s, dir, "documents"))

  val g11Sql: String =
    """WITH words AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh0 AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
      |       FROM words, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)),
      |df AS (SELECT s, COUNT(*) AS df FROM sh0 GROUP BY s),
      |sh AS (SELECT doc_id, sh0.s FROM sh0 JOIN df ON sh0.s = df.s
      |       WHERE df.df <= 1000),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY a.doc_id, b.doc_id),
      |e0 AS MATERIALIZED (SELECT da, db FROM inter
      |       JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
      |       WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5),
      |lab AS (SELECT doc_id, source FROM documents),
      |le AS MATERIALIZED (
      |  SELECT a.source AS sa, b.source AS sb
      |  FROM e0 JOIN lab a ON e0.da = a.doc_id JOIN lab b ON e0.db = b.doc_id),
      |dmass AS (
      |  SELECT source, CAST(COUNT(*) AS HUGEINT) AS ds FROM (
      |    SELECT sa AS source FROM le UNION ALL SELECT sb FROM le)
      |  GROUP BY source),
      |mom AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS m,
      |    CAST(SUM(CASE WHEN sa = sb THEN 1 ELSE 0 END) AS HUGEINT) AS intra
      |  FROM le),
      |dagg AS (SELECT SUM(ds * ds) AS dsq,
      |    CAST(COUNT(*) AS BIGINT) AS n_sources FROM dmass)
      |SELECT CAST(m AS BIGINT) AS n_edges, CAST(intra AS BIGINT) AS intra_edges,
      |  n_sources,
      |  round(CAST(4 * m * intra - dsq AS DOUBLE) /
      |        CAST(4 * m * m AS DOUBLE), 6) AS modularity
      |FROM mom, dagg""".stripMargin

  // ---------------------------------------------------------------- g12
  /** Global transitivity of the near-dup graph: 3·triangles / wedges —
    * the cluster-collapse safety meter. d07 keeps ONE doc per connected
    * component, which is only sound if near-dup is (approximately)
    * transitive; a transitivity near 1 says components are cliques of
    * true duplicates, near 0 says they are chains glued by hubs and a
    * collapse would delete non-duplicates. g05 measures this per vertex;
    * the policy decision (collapse or not) reads this one global number.
    *
    * Determinism: wedges Σ d(d−1)/2 and the closed-triple count are pure
    * integers (per-vertex wedge counts summed in DECIMAL(38) — the sum
    * over a web-scale hub can pass 2⁶³); the ratio is int64 floor ppm,
    * NULL on a wedge-free graph rather than an engine-specific error.
    *
    * Scale (100 TB): one edge materialization shared by all three
    * consumers (edge count, degrees, triangle closing); degrees collapse
    * map-side; the wedge join is the standard low→high orientation so
    * hub fan-out is bounded by the SMALLER endpoint's degree. The three
    * one-row aggregates broadcast into the final select — nothing joins
    * at corpus size. */
  def g12(s: SparkSession, dir: String): DataFrame =
    transitivityOf(Dedup.jaccardPairs(s, dir, 0.5))

  /** The transitivity kernel over any (da, db) edge frame (da < db) —
    * split out so the spec can pin the formula on hand graphs (star →
    * 0 ppm, triangle → 10⁶ ppm, path → 0 ppm, empty → NULL). */
  private[graft] def transitivityOf(edgesIn: DataFrame): DataFrame = {
    val s = edgesIn.sparkSession
    import s.implicits._
    val e = edgesIn
      .select($"da".cast(LongType).as("da"), $"db".cast(LongType).as("db"))
      // reused three times; lazy so the pair pipeline runs once
      .localCheckpoint(eager = false)
    val nEdges = e.agg(count(lit(1)).as("n_edges"))
    val nWedges = e.select(explode(array($"da", $"db")).as("v"))
      .groupBy($"v").agg(count(lit(1)).as("d"))
      .select(expr("(d * (d - 1)) div 2").as("w"))
      .agg(coalesce(sum($"w".cast(DecimalType(38, 0))),
        lit(0).cast(DecimalType(38, 0))).cast(LongType).as("n_wedges"))
    val wedges = e.as("x").join(e.as("y"),
      col("x.da") === col("y.da") && col("x.db") < col("y.db"))
      .select(col("x.db").as("b"), col("y.db").as("c"))
    val nTri = wedges.join(e.as("z"),
      col("b") === col("z.da") && col("c") === col("z.db"))
      .agg(count(lit(1)).as("n_triangles"))
    nEdges.crossJoin(nWedges).crossJoin(nTri)
      .select($"n_edges", $"n_wedges", $"n_triangles",
        expr("""CASE WHEN n_wedges > 0
          THEN (n_triangles * 3 * 1000000) div n_wedges END""")
          .as("transitivity_ppm"))
  }

  val g12Sql: String =
    """WITH words AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh0 AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
      |       FROM words, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)),
      |df AS (SELECT s, COUNT(*) AS df FROM sh0 GROUP BY s),
      |sh AS (SELECT doc_id, sh0.s FROM sh0 JOIN df ON sh0.s = df.s
      |       WHERE df.df <= 1000),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY a.doc_id, b.doc_id),
      |edges AS (SELECT da, db FROM inter
      |          JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
      |          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5),
      |deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM (
      |          SELECT da AS v FROM edges UNION ALL SELECT db FROM edges)
      |        GROUP BY v),
      |scal AS (SELECT
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
      |    (SELECT CAST(COALESCE(SUM((d * (d - 1)) // 2), 0) AS BIGINT)
      |       FROM deg) AS n_wedges,
      |    (SELECT CAST(COUNT(*) AS BIGINT)
      |       FROM edges x JOIN edges y ON x.da = y.da AND x.db < y.db
      |            JOIN edges z ON z.da = x.db AND z.db = y.db) AS n_triangles)
      |SELECT n_edges, n_wedges, n_triangles,
      |  CASE WHEN n_wedges > 0
      |    THEN (n_triangles * 3 * 1000000) // n_wedges END AS transitivity_ppm
      |FROM scal""".stripMargin

  // ---------------------------------------------------------------- g13
  /** Average-neighbor-degree curve knn(k) of the near-dup graph — the
    * degree-resolved view of g10's single assortativity number: for each
    * degree class k, the mean degree over all neighbors of degree-k
    * vertices (stub-weighted, Barabási's k_nn(k)). A falling curve is
    * hub-and-spoke boilerplate (singletons attach to one canonical doc);
    * a rising curve is a template family gluing its own hubs together.
    * g10 can read ≈ 0 while the curve is strongly U-shaped — this is the
    * shape g10 averages away, read before trusting g01's clusters.
    *
    * Determinism: neighbor-degree sums are exact integers in
    * DECIMAL(38,0); knn is ONE IEEE division of two exact integers,
    * then round(6) — token-identical in the oracle.
    *
    * Scale (100 TB): near-dup edges are ≪ corpus (the d02 pair bound),
    * but the VERTEX set grows with the corpus, so the per-vertex degree
    * table joins onto the stubs via SHUFFLE_HASH (g10's exact shape —
    * hash-partitioned build, never a broadcast of a corpus-growing
    * frame), and the curve is a groupBy over the stubs collapsing to
    * |distinct degrees| rows. The corpus itself is only touched by the
    * shared pair-generation substrate. */
  private[graft] def knnDegree(edgesIn: DataFrame): DataFrame = {
    val s = edgesIn.sparkSession
    import s.implicits._
    val dec0 = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(38, 0))
    val stubs = edgesIn.select($"da".as("x"), $"db".as("y"))
      .union(edgesIn.select($"db".as("x"), $"da".as("y")))
    val deg = stubs.groupBy($"x".as("doc_id")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(eager = false) // consumed by both joins + n_docs
    val joined = stubs
      .join(deg.select($"doc_id".as("x"), $"deg".as("dx"))
        .hint("SHUFFLE_HASH"), Seq("x"))
      .join(deg.select($"doc_id".as("y"), $"deg".as("dy"))
        .hint("SHUFFLE_HASH"), Seq("y"))
    val perDeg = joined.groupBy($"dx".as("degree"))
      .agg(count(lit(1)).as("n_stubs"), sum(dec0($"dy")).as("sy"))
    val nDocs = deg.groupBy($"deg".as("degree")).agg(count(lit(1)).as("n_docs"))
    perDeg.join(nDocs, Seq("degree"))
      .select($"degree", $"n_docs", $"n_stubs",
        round($"sy".cast("double") / $"n_stubs".cast("double"), 6)
          .as("knn_degree"))
      .orderBy($"degree")
  }

  /** Stress adjudication (round 16, committed paired windows): the
    * sf0.1 3.9x ratio collapses with data — 2.2x at 10x docs (9.1 s
    * settled vs 4.2 s), **1.53x at 40x** (51.2 vs 33.5 s) — because
    * g13 is the d02 pair substrate plus narrow degree joins, and the
    * oracle's growth is superlinear on exactly that substrate (see
    * [[Dedup.d02]]: the baseline dies outright at 160x). Knob probe at
    * 10x (partitions=8, AQE off): 9.1 → 14.9 s — parallel work, not
    * stage floor. */
  def g13(s: SparkSession, dir: String): DataFrame =
    knnDegree(Dedup.jaccardPairs(s, dir, 0.5))

  val g13Sql: String =
    """WITH words AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh0 AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
      |       FROM words, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)),
      |df AS (SELECT s, COUNT(*) AS df FROM sh0 GROUP BY s),
      |sh AS (SELECT doc_id, sh0.s FROM sh0 JOIN df ON sh0.s = df.s
      |       WHERE df.df <= 1000),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY a.doc_id, b.doc_id),
      |e0 AS MATERIALIZED (SELECT da, db FROM inter
      |       JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
      |       WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5),
      |stubs AS (SELECT da AS x, db AS y FROM e0
      |          UNION ALL SELECT db AS x, da AS y FROM e0),
      |deg AS (SELECT x AS doc_id, COUNT(*) AS deg FROM stubs GROUP BY x),
      |perdeg AS (
      |  SELECT dx.deg AS degree, CAST(COUNT(*) AS BIGINT) AS n_stubs,
      |    SUM(CAST(dy.deg AS HUGEINT)) AS sy
      |  FROM stubs
      |  JOIN deg dx ON stubs.x = dx.doc_id
      |  JOIN deg dy ON stubs.y = dy.doc_id
      |  GROUP BY dx.deg),
      |ndocs AS (SELECT deg AS degree, CAST(COUNT(*) AS BIGINT) AS n_docs
      |          FROM deg GROUP BY deg)
      |SELECT p.degree, n.n_docs, p.n_stubs,
      |  round(CAST(sy AS DOUBLE) / CAST(n_stubs AS DOUBLE), 6) AS knn_degree
      |FROM perdeg p JOIN ndocs n ON p.degree = n.degree
      |ORDER BY p.degree""".stripMargin

  // ---------------------------------------------------------------- g14
  /** Dedup-cluster threshold stability: every Jaccard ≥ 0.5 component
    * (g01's clusters) against the ≥ 0.7 sub-clustering of its members —
    * how many pieces does each cluster shatter into when the bar rises?
    * n_fine = 1 means the cluster is threshold-robust (safe to collapse
    * to one canonical doc); n_fine ≫ 1 means it was glued by borderline
    * edges and d07's collapse at 0.5 would delete distinct documents.
    * This is the cluster-grain answer to d15's pair-grain sweep — pairs
    * can look stable while transitive chaining still merges clusters.
    *
    * Determinism: component ids are min-reachable-doc-ids (exact);
    * members without a fine edge are their own fine cluster
    * (coalesce to doc_id); counts are integers.
    *
    * Scale (100 TB): ONE inverted-index pair pass serves both
    * thresholds (the jaccard column is computed once and filtered
    * twice off a lazy checkpoint — the oracle's two recursive closures
    * re-derive everything); both component runs ride [[components]]'
    * local-finish/label-propagation split, and the final rollup is a
    * groupBy over the (tiny) labeled vertex set. */
  def g14(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    thresholdStability(
      Dedup.pairStats(Dedup.shingleHashArrays(s, dir))
        .withColumn("jac",
          $"i".cast("double") / ($"na" + $"nb" - $"i"))
        .select($"da", $"db", $"jac"))
  }

  /** g14's kernel over any (da, db, jac) frame — split out so the spec
    * can pin the split/robust classification on constructed graphs. */
  private[graft] def thresholdStability(jacIn: DataFrame): DataFrame = {
    val s = jacIn.sparkSession
    import s.implicits._
    val jac = jacIn
      .localCheckpoint(eager = false) // both thresholds read one pair pass
    val cc = components(jac.filter($"jac" >= 0.5).select($"da", $"db"))
    val fc = components(jac.filter($"jac" >= 0.7).select($"da", $"db"))
      .select($"doc_id".as("fdoc"), $"component".as("fine_comp"))
    cc.join(fc, $"doc_id" === $"fdoc", "left")
      .select($"doc_id", $"component",
        coalesce($"fine_comp", $"doc_id").as("fine"))
      .groupBy($"component")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"fine").as("n_fine_clusters"))
      .select($"component", $"n_docs", $"n_fine_clusters",
        ($"n_fine_clusters" > 1).cast(LongType).as("split_flag"))
      .orderBy($"component")
  }

  val g14Sql: String =
    """WITH RECURSIVE words AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh0 AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
      |       FROM words, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)),
      |df AS (SELECT s, COUNT(*) AS df FROM sh0 GROUP BY s),
      |sh AS (SELECT doc_id, sh0.s FROM sh0 JOIN df ON sh0.s = df.s
      |       WHERE df.df <= 1000),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY a.doc_id, b.doc_id),
      |jac AS (SELECT da, db, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jac
      |        FROM inter
      |        JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id),
      |ce AS (SELECT da, db FROM jac WHERE jac >= 0.5),
      |csym AS (SELECT da, db FROM ce UNION SELECT db, da FROM ce),
      |cnodes AS (SELECT DISTINCT da AS doc_id FROM csym),
      |creach(src, dst) AS (
      |  SELECT doc_id, doc_id FROM cnodes
      |  UNION
      |  SELECT r.src, e.db FROM creach r JOIN csym e ON r.dst = e.da),
      |cc AS (SELECT src AS doc_id, min(dst) AS component
      |       FROM creach GROUP BY src),
      |fe AS (SELECT da, db FROM jac WHERE jac >= 0.7),
      |fsym AS (SELECT da, db FROM fe UNION SELECT db, da FROM fe),
      |fnodes AS (SELECT DISTINCT da AS doc_id FROM fsym),
      |freach(src, dst) AS (
      |  SELECT doc_id, doc_id FROM fnodes
      |  UNION
      |  SELECT r.src, e.db FROM freach r JOIN fsym e ON r.dst = e.da),
      |fc AS (SELECT src AS doc_id, min(dst) AS fine_comp
      |       FROM freach GROUP BY src)
      |SELECT cc.component, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(COUNT(DISTINCT COALESCE(fc.fine_comp, cc.doc_id)) AS BIGINT)
      |    AS n_fine_clusters,
      |  CAST(CASE WHEN COUNT(DISTINCT COALESCE(fc.fine_comp, cc.doc_id)) > 1
      |       THEN 1 ELSE 0 END AS BIGINT) AS split_flag
      |FROM cc LEFT JOIN fc ON cc.doc_id = fc.doc_id
      |GROUP BY cc.component
      |ORDER BY cc.component""".stripMargin

  // ---------------------------------------------------------------- g15
  /** Personalized PageRank from a seed set — the DAMPED contamination
    * influence score, read next to g08's hard hop count: BFS says "3
    * hops away", PPR says HOW MUCH of the seeds' mass actually reaches a
    * vertex (a doc linked through one borderline edge scores far below
    * one inside a contaminated clique, even at equal hop distance).
    * Teleport mass restarts ONLY at seeds (the personalization), so
    * rank IS seed-reachability weighted by path redundancy and damped
    * by distance — the quarantine-priority ordering for leakage triage.
    *
    * Determinism: g04's integer fixed-point arithmetic — rank div deg
    * contributions, DECIMAL(38) inbound sums, 85/100 integer damping —
    * with the teleport term gated by the integer is_seed flag; the
    * unrolled oracle hash-matches exactly.
    *
    * Scale (100 TB): identical loop skeleton to [[pagerank]] (edge list
    * + degrees compute once and block-reuse; one join + one map-side-
    * combining sum per round; per-round checkpoints keep lineage flat);
    * the seed membership joins once into the reused base frame. */
  private[graft] def personalizedPagerank(edgesIn: DataFrame,
      seedsIn: DataFrame, iters: Int = 3): DataFrame = {
    val s = edgesIn.sparkSession
    import s.implicits._
    val Scale = 1000000000000L
    val e = edgesIn.select($"da".cast("long").as("da"), $"db".cast("long").as("db"))
    val sym = e.union(e.select($"db".as("da"), $"da".as("db")))
      .localCheckpoint(eager = false) // reused every round
    val deg = sym.groupBy($"da").agg(count(lit(1)).as("deg"))
      .select($"da".as("doc_id"), $"deg")
    val seeds = seedsIn.select($"doc_id".cast("long").as("sid")).distinct()
    val base = deg.join(seeds, $"doc_id" === $"sid", "left")
      .select($"doc_id", $"deg", $"sid".isNotNull.cast("long").as("is_seed"))
      .localCheckpoint(eager = false) // reused every round
    var ranks = base.withColumn("rank", $"is_seed" * lit(Scale))
    for (_ <- 1 to iters) {
      val contrib = ranks.select($"doc_id".as("src"), expr("rank div deg").as("c"))
      val inbound = sym.join(contrib, $"da" === $"src")
        .groupBy($"db")
        .agg(sum($"c".cast(DecimalType(38, 0))).as("in_sum"))
      ranks = base.join(inbound, $"doc_id" === $"db", "left")
        .select($"doc_id", $"deg", $"is_seed",
          ($"is_seed" * lit(15L * Scale / 100) +
            expr("(coalesce(in_sum, CAST(0 AS DECIMAL(38,0))) * 85) div 100"))
            .as("rank"))
        .localCheckpoint(eager = false)
    }
    ranks.select($"doc_id", $"is_seed", $"rank")
  }

  /** g15: 3-round personalized PageRank over the jaccard ≥ 0.5 near-dup
    * graph from g08's directly-contaminated seed set. */
  def g15(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val grams = Dedup.grams4(Tables.t(s, dir, "documents"))
    val evalG = grams.filter($"doc_id" % 97 === 0).select($"g").distinct()
    val seeds = grams.filter($"doc_id" % 97 =!= 0)
      .join(broadcast(evalG), Seq("g"))
      .select($"doc_id").distinct()
    personalizedPagerank(Dedup.jaccardPairs(s, dir, 0.5), seeds)
      .orderBy($"doc_id")
  }

  val g15Sql: String =
    """WITH words AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh0 AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
      |       FROM words, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)),
      |df AS (SELECT s, COUNT(*) AS df FROM sh0 GROUP BY s),
      |sh AS (SELECT doc_id, sh0.s FROM sh0 JOIN df ON sh0.s = df.s
      |       WHERE df.df <= 1000),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY a.doc_id, b.doc_id),
      |edges AS (SELECT da, db FROM inter
      |          JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
      |          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5),
      |sym AS (SELECT da, db FROM edges UNION ALL SELECT db, da FROM edges),
      |deg AS (SELECT da AS doc_id, COUNT(*) AS deg FROM sym GROUP BY da),
      |g4 AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+3], ' ') AS g0
      |       FROM words, UNNEST(generate_series(1, len(ws) - 3)) AS t(i)
      |       WHERE len(ws) >= 4),
      |seeds AS (SELECT DISTINCT t.doc_id FROM g4 t JOIN g4 e ON t.g0 = e.g0
      |          WHERE e.doc_id % 97 = 0 AND t.doc_id % 97 <> 0),
      |r0 AS (SELECT deg.doc_id, deg.deg,
      |         CASE WHEN s.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_seed,
      |         CAST(CASE WHEN s.doc_id IS NOT NULL
      |              THEN 1000000000000 ELSE 0 END AS BIGINT) AS rank
      |       FROM deg LEFT JOIN seeds s ON deg.doc_id = s.doc_id),
      |c0 AS (SELECT doc_id, rank // deg AS c FROM r0),
      |i0 AS (SELECT sym.db AS doc_id, SUM(c) AS s
      |       FROM sym JOIN c0 ON sym.da = c0.doc_id GROUP BY sym.db),
      |r1 AS (SELECT r0.doc_id, r0.deg, r0.is_seed,
      |         r0.is_seed * 150000000000 + (85 * COALESCE(i0.s, 0)) // 100 AS rank
      |       FROM r0 LEFT JOIN i0 ON r0.doc_id = i0.doc_id),
      |c1 AS (SELECT doc_id, rank // deg AS c FROM r1),
      |i1 AS (SELECT sym.db AS doc_id, SUM(c) AS s
      |       FROM sym JOIN c1 ON sym.da = c1.doc_id GROUP BY sym.db),
      |r2 AS (SELECT r1.doc_id, r1.deg, r1.is_seed,
      |         r1.is_seed * 150000000000 + (85 * COALESCE(i1.s, 0)) // 100 AS rank
      |       FROM r1 LEFT JOIN i1 ON r1.doc_id = i1.doc_id),
      |c2 AS (SELECT doc_id, rank // deg AS c FROM r2),
      |i2 AS (SELECT sym.db AS doc_id, SUM(c) AS s
      |       FROM sym JOIN c2 ON sym.da = c2.doc_id GROUP BY sym.db),
      |r3 AS (SELECT r2.doc_id, CAST(r2.is_seed AS BIGINT) AS is_seed,
      |         CAST(r2.is_seed * 150000000000
      |           + (85 * COALESCE(i2.s, 0)) // 100 AS BIGINT) AS rank
      |       FROM r2 LEFT JOIN i2 ON r2.doc_id = i2.doc_id)
      |SELECT doc_id, is_seed, rank FROM r3 ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- g17
  /** Edge embeddedness / bridge audit of the near-dup graph: for every
    * Jaccard ≥ 0.5 edge, the number of triangles it sits in (the count
    * of common neighbors of its endpoints). An edge with support 0 is a
    * BRIDGE-like link — the only evidence tying its two docs together —
    * and is exactly where transitive chaining (g14's borderline glue)
    * merges clusters on a single uncorroborated match; high-support
    * edges sit inside mutually-confirming duplicate cliques. g02 counts
    * triangles at the VERTEX grain; the keeper/split decisions d07 and
    * g14 motivate read them at the EDGE grain.
    *
    * Determinism: integer counting; (da, db) is a total order.
    *
    * Scale (100 TB): the same low→high wedge join as g02 (never a
    * cartesian product, fan-out bounded by the df-cut degree bound);
    * each triangle credits its three edges through one explode +
    * map-side-combining count, and the final left join keys on the
    * (pairs-sized) edge list — the corpus is touched only by the shared
    * pair substrate. */
  def g17(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    edgeSupport(Dedup.jaccardPairs(s, dir, 0.5)).orderBy($"da", $"db")
  }

  private[graft] def edgeSupport(edgesIn: DataFrame): DataFrame = {
    val s = edgesIn.sparkSession
    import s.implicits._
    val e = edgesIn.select($"da", $"db")
      .localCheckpoint(eager = false) // wedges + closing + output spine
    // SHUFFLE_HASH on the edge-list build sides (guide §3.1): sort-merge
    // would SORT the wedge frame — the one frame here that grows
    // super-linearly (Σ deg²) — to join it against the (pairs-sized)
    // edge list. Hashing the edge list instead leaves the wedge stream
    // unsorted; build-side memory is bounded by the edge list, never by
    // the wedge count. A/B at docs10x (settled window, min-of-3):
    // 13.33 → 12.48 s (−6%); sf0.1 isolated 1.77 → 1.69 s.
    val wedges = e.as("x").join(e.as("y").hint("SHUFFLE_HASH"),
      col("x.da") === col("y.da") && col("x.db") < col("y.db"))
      .select(col("x.da").as("a"), col("x.db").as("b"), col("y.db").as("c"))
    val tri = wedges.join(e.as("z").hint("SHUFFLE_HASH"),
      col("b") === col("z.da") && col("c") === col("z.db"))
      .select($"a", $"b", $"c")
    val support = tri.select(explode(array(
        struct($"a".as("da"), $"b".as("db")),
        struct($"a".as("da"), $"c".as("db")),
        struct($"b".as("da"), $"c".as("db")))).as("t"))
      .groupBy(col("t.da").as("da"), col("t.db").as("db"))
      .agg(count(lit(1)).as("support"))
    e.join(support, Seq("da", "db"), "left")
      .select($"da", $"db",
        coalesce($"support", lit(0L)).as("support"),
        (coalesce($"support", lit(0L)) === 0).as("is_bridge"))
  }

  val g17Sql: String =
    """WITH words AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh0 AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
      |       FROM words, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)),
      |df AS (SELECT s, COUNT(*) AS df FROM sh0 GROUP BY s),
      |sh AS (SELECT doc_id, sh0.s FROM sh0 JOIN df ON sh0.s = df.s
      |       WHERE df.df <= 1000),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY a.doc_id, b.doc_id),
      |edges AS MATERIALIZED (SELECT da, db FROM inter
      |          JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
      |          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5),
      |tri AS (SELECT x.da AS a, x.db AS b, y.db AS c
      |        FROM edges x JOIN edges y ON x.da = y.da AND x.db < y.db
      |        JOIN edges z ON z.da = x.db AND z.db = y.db),
      |etri AS (SELECT a AS da, b AS db FROM tri
      |         UNION ALL SELECT a, c FROM tri
      |         UNION ALL SELECT b, c FROM tri),
      |sup AS (SELECT da, db, COUNT(*) AS c FROM etri GROUP BY 1, 2)
      |SELECT e.da, e.db,
      |  CAST(COALESCE(s.c, 0) AS BIGINT) AS support,
      |  COALESCE(s.c, 0) = 0 AS is_bridge
      |FROM edges e LEFT JOIN sup s ON e.da = s.da AND e.db = s.db
      |ORDER BY e.da, e.db""".stripMargin

  // ---------------------------------------------------------------- g18
  /** Incremental connected-components maintenance — the g-family's d26:
    * the even-id near-dup graph stands in for yesterday's labeled
    * history, edges touching odd ids for today's batch. Instead of
    * re-running the closure over everything, the batch edges CONTRACT
    * through the old labels (endpoint → its old component id, which is
    * that component's min doc_id) and components run only on the tiny
    * contracted graph; old labels then re-map through the contracted
    * result. Because old labels are min-ids, the composed label is the
    * global min of every merged cluster — BIT-IDENTICAL to a full
    * recompute, which is exactly what the oracle computes (full closure
    * + old closure for the old_component column).
    *
    * Scale (100 TB): the daily win — the full-history edge closure never
    * re-runs; the incremental pass touches |batch edges| + the contracted
    * vertex set (≤ |old components| + |new vertices|), and the final
    * relabel is one join over the (pairs-sized) label table. */
  def g18(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = Dedup.jaccardPairs(s, dir, 0.5).select($"da", $"db")
      .localCheckpoint(eager = false) // old/batch splits + vertex spine
    val oldE = pairs.filter($"da" % 2 === 0 && $"db" % 2 === 0)
    val batchE = pairs.filter($"da" % 2 === 1 || $"db" % 2 === 1)
    val oldLab = components(oldE).localCheckpoint(eager = false)
    val contracted = batchE
      .join(oldLab.select($"doc_id".as("da"), $"component".as("la")),
        Seq("da"), "left")
      .join(oldLab.select($"doc_id".as("db"), $"component".as("lb")),
        Seq("db"), "left")
      .select(coalesce($"la", $"da").as("x"), coalesce($"lb", $"db").as("y"))
      .filter($"x" =!= $"y")
      .select(least($"x", $"y").as("da"), greatest($"x", $"y").as("db"))
      .distinct()
    val merged = components(contracted)
    val verts = pairs.select($"da".as("doc_id"))
      .union(pairs.select($"db".as("doc_id"))).distinct()
    verts
      .join(oldLab.select($"doc_id", $"component".as("old_component")),
        Seq("doc_id"), "left")
      .withColumn("c0", coalesce($"old_component", $"doc_id"))
      .join(merged.select($"doc_id".as("cv"), $"component".as("c1")),
        $"c0" === $"cv", "left")
      .select($"doc_id",
        coalesce($"c1", $"c0").as("component"), $"old_component")
      .orderBy($"doc_id")
  }

  val g18Sql: String =
    """WITH RECURSIVE words AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh0 AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
      |       FROM words, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)),
      |df AS (SELECT s, COUNT(*) AS df FROM sh0 GROUP BY s),
      |sh AS (SELECT doc_id, sh0.s FROM sh0 JOIN df ON sh0.s = df.s
      |       WHERE df.df <= 1000),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY a.doc_id, b.doc_id),
      |edges AS MATERIALIZED (SELECT da, db FROM inter
      |          JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
      |          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5),
      |symo AS (SELECT da, db FROM edges WHERE da % 2 = 0 AND db % 2 = 0
      |         UNION SELECT db, da FROM edges WHERE da % 2 = 0 AND db % 2 = 0),
      |nodeso AS (SELECT DISTINCT da AS doc_id FROM symo),
      |reacho(src, dst) AS (
      |  SELECT doc_id, doc_id FROM nodeso
      |  UNION
      |  SELECT r.src, e.db FROM reacho r JOIN symo e ON r.dst = e.da),
      |oldc AS (SELECT src AS doc_id, min(dst) AS component
      |         FROM reacho GROUP BY src),
      |sym AS (SELECT da, db FROM edges UNION SELECT db, da FROM edges),
      |nodes AS (SELECT DISTINCT da AS doc_id FROM sym),
      |reach(src, dst) AS (
      |  SELECT doc_id, doc_id FROM nodes
      |  UNION
      |  SELECT r.src, e.db FROM reach r JOIN sym e ON r.dst = e.da),
      |fullc AS (SELECT src AS doc_id, min(dst) AS component
      |          FROM reach GROUP BY src)
      |SELECT f.doc_id, f.component, o.component AS old_component
      |FROM fullc f LEFT JOIN oldc o ON f.doc_id = o.doc_id
      |ORDER BY f.doc_id""".stripMargin

  // ---------------------------------------------------------------- g19
  /** Per-component density — the clique-vs-chain triage at the CLUSTER
    * grain: density 10⁶ ppm (= complete graph) is a mutually-confirming
    * duplicate family, safe for d07's collapse; density near the tree
    * floor (2/n) is a chain glued by borderline edges (g17's bridges at
    * the component grain), where collapse deletes distinct docs. g16
    * profiles SIZES; this adds the edge mass each size carries.
    *
    * Determinism: counts are integers; density is one floor division
    * (×2·10⁶ cross-multiplied); single-doc math never occurs (every
    * component here has ≥ 2 docs by construction).
    *
    * Scale (100 TB): both aggregates run over pairs-sized frames (the
    * edge list and the label table); one join keyed on component ids. */
  def g19(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = Dedup.jaccardPairs(s, dir, 0.5).select($"da", $"db")
      .localCheckpoint(eager = false) // labels + edge counts share it
    val lab = components(edges)
    // both endpoints share a component by definition — label via da
    val eCnt = edges
      .join(lab.select($"doc_id".as("da"), $"component"), Seq("da"))
      .groupBy($"component").agg(count(lit(1)).as("n_edges"))
    val sizes = lab.groupBy($"component").agg(count(lit(1)).as("n_docs"))
    sizes.join(eCnt, Seq("component"))
      .select($"component", $"n_docs", $"n_edges",
        expr("(2000000 * n_edges) div (n_docs * (n_docs - 1))")
          .as("density_ppm"))
      .orderBy($"component")
  }

  val g19Sql: String =
    """WITH RECURSIVE words AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh0 AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
      |       FROM words, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)),
      |df AS (SELECT s, COUNT(*) AS df FROM sh0 GROUP BY s),
      |sh AS (SELECT doc_id, sh0.s FROM sh0 JOIN df ON sh0.s = df.s
      |       WHERE df.df <= 1000),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY a.doc_id, b.doc_id),
      |edges AS MATERIALIZED (SELECT da, db FROM inter
      |          JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
      |          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5),
      |sym AS (SELECT da, db FROM edges UNION SELECT db, da FROM edges),
      |nodes AS (SELECT DISTINCT da AS doc_id FROM sym),
      |reach(src, dst) AS (
      |  SELECT doc_id, doc_id FROM nodes
      |  UNION
      |  SELECT r.src, e.db FROM reach r JOIN sym e ON r.dst = e.da),
      |comp AS (SELECT src AS doc_id, min(dst) AS component
      |         FROM reach GROUP BY src),
      |cs AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS n_docs
      |       FROM comp GROUP BY 1),
      |ec AS (SELECT c.component, CAST(COUNT(*) AS BIGINT) AS n_edges
      |       FROM edges e JOIN comp c ON e.da = c.doc_id GROUP BY 1)
      |SELECT cs.component, cs.n_docs, ec.n_edges,
      |  (2000000 * ec.n_edges) // (cs.n_docs * (cs.n_docs - 1)) AS density_ppm
      |FROM cs JOIN ec ON cs.component = ec.component
      |ORDER BY cs.component""".stripMargin

  // ---------------------------------------------------------------- g21
  /** g21: Resource-Allocation link prediction over the co-purchase graph
    * (Zhou, Lü & Zhang, Eur. Phys. J. B 71, 2009 — the local-information
    * index that consistently beats Adamic–Adar in their benchmarks):
    * parts are vertices, an edge means "co-ordered in ≥ 2 orders"
    * (support cut, g17's debulking move), and for every NON-adjacent
    * pair (x, y), RA(x,y) = Σ_{z ∈ Γ(x)∩Γ(y)} 1/deg(z) — the top-20
    * ranked predictions are the recommendation candidates the
    * co-purchase evidence almost, but never directly, supports. (The
    * near-dup graph is the WRONG substrate here: Jaccard ≥ t is
    * near-transitive, so its open-wedge set is empty at every t —
    * verified at both SFs; basket co-occurrence is the textbook open
    * graph.)
    *
    * Exact-integer form: the weight is 10⁶ div deg(z) and the score the
    * int64 sum — Adamic–Adar's 1/log(deg) would drag a transcendental
    * into the gate; RA's plain reciprocal is floor-div-exact on both
    * engines (and is the better-published index anyway).
    *
    * Hub cut: middles with deg > 1000 are dropped before the wedge
    * join — a hub middle contributes ≤ 10⁶/1000 per pair (noise) yet
    * costs deg² wedge rows; bounding it keeps the join
    * Σ min(deg, 1000)² instead of unbounded-quadratic in the hubbiest
    * part.
    *
    * Scale (100 TB): the pair generator fans out C(items-per-order, 2)
    * per order — bounded by basket size, never quadratic in parts; the
    * support cut collapses it map-side. Degrees ride ONE vertex-keyed
    * aggregation and attach to the wedge frame on the SAME key the
    * wedge join shuffles on (no extra exchange); candidates collapse in
    * a map-side-combining (x, y) aggregation; existing edges leave via
    * left_anti on the low→high pair key; top-20 is TakeOrdered — no
    * global sort ever materializes. No collect, no broadcast of
    * anything vertex-sized.
    *
    * Floor adjudication (round 14, settled isolated A/B at sf0.1):
    * 2.48 s → 2.10 s after replacing the two lazy checkpoints with one
    * forced repartition(da) that ReuseExchange shares across deg + both
    * wedge sides (two scheduling barriers and one exchange gone). The
    * remaining 2.10 s vs the 0.57 s DuckDB CTE is stage-round floor,
    * not data: the per-stage profile (`git show
    * 4b84937:tools/devscratch/ProfG22.scala`) measured the substrate at
    * ~0.8 s (600k-row lineitem scan + basket
    * collect_set + support agg — real work) and EVERY post-support frame
    * at ≤ 10k rows, with each of the ~6 sequential AQE stage rounds
    * costing ~0.2-0.3 s of scheduling; forcing
    * spark.sql.shuffle.partitions=8 (fewer tasks/round, same plan) drops
    * the same code to 1.32 s, and disabling AQE raises it to 2.5 s —
    * both knob probes confirm overhead, not algorithm. The shape keeps
    * its 100 TB properties (map-side support collapse, hub cap,
    * exchange-free cascade), so the bench-SF ratio is the price of a
    * 32-way scheduler running a 3.5k-edge graph. */
  val RaMaxMiddleDegree = 1000L
  val RaMinSupport = 2L

  /* Wedge family at-scale record (committed paired artifacts):
   * round 15 (settled host): li40x g21 24.6 s vs DuckDB 24.0 (1.02x),
   * g22 23.8 vs 27.7 (0.86x) — parity. Round 16 (host degraded ~2x,
   * bracketed by the oracle's own drift in the same windows): li40x
   * 50.3/30.5 vs 26.4/23.0 (1.9x/1.3x), and the new li160x tier —
   * 85.7/89.2 s Spark vs DuckDB TIMEOUT >300 s on BOTH queries: at
   * 160x the single-process baseline exits the race entirely, exactly
   * the extrapolation the 40x parity point predicted. li160x needs the
   * spill-aware per-tier conf in [[graft.Stress]] (object-agg fallback
   * 128k entries): the support/basket aggregations must spill there,
   * and with it the tier runs on the default 8 GiB heap. */

  /** Pack an (x, y) vertex pair into ONE long key — (x << 32) | y — for
    * the pair-scale aggregations below. At the round-15 10x stress the
    * distinct/sum exchange is the whole wedge bill (70M rows), and the
    * single-long key measured 22% faster than the two-column form
    * (9.2 s vs 11.9 s for the bare distinct; g22 end-to-end 8.0 s vs
    * 9.8 s): half the key bytes, one hash instead of two, and a
    * primitive-array spill sort. Injectivity needs both coordinates in
    * [0, 2^31); the SortedPairsPacked generator kernel
    * enforces that bound LOUDLY at pair-generation time (never silently
    * wrong at a 2B-part domain — flip to the two-column form if a
    * catalog ever exceeds it), and every value below derives from it. */
  private def packPair(x: Column, y: Column): Column =
    shiftleft(x, 32) + y

  private def unpackX(p: Column): Column = shiftright(p, 32)
  private def unpackY(p: Column): Column = p.bitwiseAND(lit(0xffffffffL))

  def g21(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // basket-collect pair generation: ONE order-keyed exchange replaces
    // the distinct + self-join (2 fewer shuffles); the in-basket pair
    // expand is bounded by C(basket,2) — basket size is an order's item
    // count, never corpus-scaled, so neither the set nor the fan-out
    // grows past the largest order
    val baskets = Tables.t(s, dir, "lineitem")
      .groupBy($"l_orderkey")
      .agg(sort_array(collect_set($"l_partkey".cast("long"))).as("parts"))
    // packed pair generation: the C(basket,2) expand emits ONE long per
    // pair (kernel range-guarded at 2^31, so every downstream pack
    // inherits the bound) and the support aggregation — the second
    // biggest exchange at stress scale — keys on it directly
    val inst = baskets.select(explode(
        graft.functions.PairKernels.sortedPairsPacked($"parts")).as("p"))
    val e = inst.groupBy($"p")
      .agg(count(lit(1)).as("support"))
      .filter($"support" >= RaMinSupport)
      .select(unpackX($"p").as("da"), unpackY($"p").as("db"))
    // ONE forced hash layout on the middle-vertex key instead of lazy
    // checkpoints: every consumer below (deg's groupBy(da), the mid
    // join's both sides, the wedge join's probe side) names the same
    // partitioning, so ReuseExchange computes the substrate once and the
    // whole degree→mid→wedge cascade runs exchange-free on top of it
    // (the q58-q60 subset-rule pattern). The checkpoint variant paid two
    // extra scheduling rounds (eager materialization barriers) plus a
    // fourth exchange; measured A/B below in the scaladoc.
    val sym = e.union(e.select($"db".as("da"), $"da".as("db")))
      .repartition($"da")
    val deg = sym.groupBy($"da").agg(count(lit(1)).as("d"))
    // middle-degree weight joins on da — the wedge join's own key
    val mid = sym.join(deg.filter($"d" <= RaMaxMiddleDegree), Seq("da"))
      .select($"da".as("z"), $"db".as("x"), expr("1000000 div d").as("w"))
    // the candidate aggregation rides the PACKED pair key (see
    // [[packPair]]: one long instead of two — 22% off the pair-scale
    // exchange at the 10x stress); the anti-join stays single-key on the
    // same packed layout, with the existing-edge side read back off the
    // repartition(da) exchange (sym filtered to da < db ≡ e)
    val wedges = mid.as("l").join(sym.as("r"),
      col("l.z") === col("r.da") && col("l.x") < col("r.db"))
      .select(packPair(col("l.x"), col("r.db")).as("p"), col("l.w").as("w"))
    wedges.groupBy($"p").agg(sum($"w").as("ra_score"))
      .join(sym.filter($"da" < $"db").select(packPair($"da", $"db").as("p")),
        Seq("p"), "left_anti")
      .select(unpackX($"p").as("da"), unpackY($"p").as("db"), $"ra_score")
      .orderBy($"ra_score".desc, $"da", $"db").limit(20)
  }

  val g21Sql: String =
    s"""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |co AS (SELECT a.l_partkey AS da, b.l_partkey AS db, COUNT(*) AS support
       |       FROM op a JOIN op b
       |         ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |       GROUP BY 1, 2),
       |edges AS (SELECT CAST(da AS BIGINT) AS da, CAST(db AS BIGINT) AS db
       |          FROM co WHERE support >= $RaMinSupport),
       |sym AS (SELECT da, db FROM edges UNION ALL SELECT db, da FROM edges),
       |deg AS (SELECT da AS z, COUNT(*) AS d FROM sym GROUP BY da),
       |mid AS (SELECT s.da AS z, s.db AS x, 1000000 // d AS w
       |        FROM sym s JOIN deg ON s.da = deg.z
       |        WHERE d <= $RaMaxMiddleDegree),
       |wed AS (SELECT m.x, s2.db AS y, m.w
       |        FROM mid m JOIN sym s2 ON m.z = s2.da AND m.x < s2.db),
       |cand AS (SELECT x, y, CAST(SUM(w) AS BIGINT) AS ra_score
       |         FROM wed GROUP BY x, y),
       |pred AS (SELECT * FROM cand WHERE NOT EXISTS
       |          (SELECT 1 FROM edges e WHERE e.da = cand.x AND e.db = cand.y))
       |SELECT x AS da, y AS db, ra_score FROM pred
       |ORDER BY ra_score DESC, da, db LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- g22
  /** Two-hop reach profile of the co-purchase graph — the
    * friend-of-friend expansion-rate readout: for every part, how many
    * DISTINCT parts are within ≤ 2 hops (direct co-purchase or one
    * shared neighbor away)? The histogram (reach → node count) is the
    * capacity planner for anything that fans out over 2-hop
    * neighborhoods — g21's link-prediction candidate volume, a
    * recommendation retrieval stage, a graph-sampled training batch —
    * and its tail is the early-warning for densification (2-hop reach
    * grows quadratically before 1-hop degree looks alarming).
    *
    * Hub cut (g21's): middles with degree > 1000 are excluded from the
    * expansion — through a hub, "2-hop reach" degenerates to "most of
    * the graph" while costing deg² join rows; capping keeps the wedge
    * volume Σ min(deg, 1000)·deg and the metric meaningful. The oracle
    * mirrors the cap exactly.
    *
    * Determinism: pure set cardinalities over integer part keys.
    *
    * Scale (100 TB): edges collapse map-side under the support cut
    * (bounded by basket size, as g21 documents); the wedge join is
    * keyed on the middle vertex, the de-dup of (node, reached) pairs is
    * ONE map-side-combining distinct whose volume the hub cut bounds by
    * cap·|E|, and the reach counts then collapse to a histogram no
    * larger than the degree domain. No collect, no broadcast of
    * anything vertex-sized, no global sort (the final order-by rides
    * the |histogram|-row frame).
    *
    * Floor adjudication (round 14, settled isolated A/B at sf0.1):
    * 2.80 s → ~2.4 s from the shared repartition(da) substrate (see
    * g21). The residue vs the 0.32 s DuckDB CTE is the same stage-round
    * floor g21 documents (per-stage profile in `git show
    * 4b84937:tools/devscratch/ProfG22.scala`: substrate ~0.8 s, every later
    * frame ≤ 10k rows, ~0.2-0.3 s per sequential stage round;
    * shuffle.partitions=8 → 1.41 s, AQE off → 3.7 s).
    *
    * Dedup-layout adjudication (round-14 10× lineitem stress — Zipf
    * part popularity, 770k support edges, hub cap live with 135 hubs,
    * 137M wedge rows): a repartition($"x")-then-distinct fusion (one
    * pair-scale exchange, per-x counts free by the subset rule) beat
    * this shape at Bench's pinned 32 partitions (14.3 vs 37.8 s) but
    * COLLAPSED at the production partition count
    * (initialPartitionNum=256: 78.6 s vs this shape's 17.4 s) — a hot
    * part's entire pre-dedup 2-hop fan-in (Σ deg over its ≤cap middles)
    * hashes to ONE partition and becomes the straggler once partitions
    * are plentiful. The full (x, y) exchange spreads that mass evenly
    * and dedups partially map-side, and the follow-up groupBy(x)
    * exchanges only per-partition partial counts. Partition count, not
    * layout, is the 10×+ knob (the d02 finding): Bench keeps 32 for
    * sf0.1; a cluster sizes initialPartitionNum to volume. */
  def g22(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val baskets = Tables.t(s, dir, "lineitem")
      .groupBy($"l_orderkey")
      .agg(sort_array(collect_set($"l_partkey".cast("long"))).as("parts"))
    // packed pair generation: the C(basket,2) expand emits ONE long per
    // pair (kernel range-guarded at 2^31, so every downstream pack
    // inherits the bound) and the support aggregation — the second
    // biggest exchange at stress scale — keys on it directly
    val inst = baskets.select(explode(
        graft.functions.PairKernels.sortedPairsPacked($"parts")).as("p"))
    val e = inst.groupBy($"p")
      .agg(count(lit(1)).as("support"))
      .filter($"support" >= RaMinSupport)
      .select(unpackX($"p").as("da"), unpackY($"p").as("db"))
    // same forced-layout trick as g21: one repartition on the middle key,
    // ReuseExchange shares it across deg + both wedge sides, zero
    // checkpoints, zero extra exchanges
    val sym = e.union(e.select($"db".as("da"), $"da".as("db")))
      .repartition($"da")
    val deg = sym.groupBy($"da").agg(count(lit(1)).as("d"))
    // (z → x) legs whose middle z stays under the hub cap; the join key
    // da is the wedge join's own key, so degrees attach with no extra
    // exchange
    val mid = sym.join(deg.filter($"d" <= RaMaxMiddleDegree), Seq("da"))
      .select($"da".as("z"), $"db".as("x"))
    // UNORDERED pairs (x < y), exactly like g21's wedge: a 2-hop pair
    // {x, y} through middle z has both legs incident to z, so emitting
    // only the x < y orientation keeps the same pair SET while HALVING
    // the wedge frame — at the round-14 10× stress that frame is the
    // whole bill (137M rows pre-dedup), so this is the two-level cut
    // VERDICT r14 item 2 asked for: orientation first (×0.5 materialized
    // pair bytes), map-side partial dedup second.
    // the 70M-row wedge frame carries ONE packed long key (see
    // [[packPair]]) straight into the dedup
    val twoHop = mid.as("l").join(sym.as("r"),
      col("l.z") === col("r.da") && col("l.x") < col("r.db"))
      .select(packPair(col("l.x"), col("r.db")).as("p"))
    // dedup on the FULL packed (x, y) key, not a repartition($"x")
    // fusion: the round-14 10× stress (Zipf part popularity, hub cap
    // live) measured the x-only layout concentrating a hot part's entire
    // pre-dedup 2-hop fan-in (Σ deg of its ≤cap middles — tens of
    // millions of rows) into ONE partition. The packed exchange spreads
    // evenly and dedups partially map-side. Direct edges union in their
    // x < y orientation — read back off the SAME repartition(da)
    // exchange (sym filtered to da < db ≡ e, one more ReuseExchange
    // consumer, half the former both-orientations rows). Each node's
    // reach then counts the distinct pairs it appears in on EITHER side:
    // one narrow unpack-explode of the two endpoints replaces the former
    // both-orientations frame, and the follow-up groupBy(x) exchanges
    // only per-partition partial counts — NOT a second pair-scale
    // shuffle.
    val reach = twoHop.union(
        sym.filter($"da" < $"db").select(packPair($"da", $"db").as("p")))
      .distinct()
      .select(explode(array(unpackX($"p"), unpackY($"p"))).as("x"))
      .groupBy($"x").agg(count(lit(1)).as("reach"))
    reach.groupBy($"reach").agg(count(lit(1)).as("n_nodes"))
      .orderBy($"reach")
  }

  val g22Sql: String =
    s"""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |co AS (SELECT a.l_partkey AS da, b.l_partkey AS db, COUNT(*) AS support
       |       FROM op a JOIN op b
       |         ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |       GROUP BY 1, 2),
       |edges AS (SELECT CAST(da AS BIGINT) AS da, CAST(db AS BIGINT) AS db
       |          FROM co WHERE support >= $RaMinSupport),
       |sym AS (SELECT da, db FROM edges UNION ALL SELECT db, da FROM edges),
       |deg AS (SELECT da AS z, COUNT(*) AS d FROM sym GROUP BY da),
       |mid AS (SELECT s.da AS z, s.db AS x FROM sym s JOIN deg ON s.da = deg.z
       |        WHERE d <= $RaMaxMiddleDegree),
       |two AS (SELECT m.x, s2.db AS y
       |        FROM mid m JOIN sym s2 ON m.z = s2.da AND m.x <> s2.db),
       |reach AS (
       |  SELECT x, COUNT(*) AS reach FROM (
       |    SELECT DISTINCT x, y FROM
       |      (SELECT x, y FROM two UNION ALL SELECT da, db FROM sym) u0) u1
       |  GROUP BY x)
       |SELECT reach, COUNT(*) AS n_nodes
       |FROM reach GROUP BY reach ORDER BY reach""".stripMargin

  def all: Seq[Q] = Seq(
    Q("g01_components", g01, Some(g01Sql)),
    Q("g02_triangles", g02, Some(g02Sql)),
    Q("g03_degree_hist", g03, Some(g03Sql)),
    Q("g04_pagerank", g04, Some(g04Sql)),
    Q("g05_clustering", g05, Some(g05Sql)),
    Q("g06_kcore", g06, Some(g06Sql)),
    Q("g07_cluster_profile", g07, Some(g07Sql)),
    Q("g08_blast_radius", g08, Some(g08Sql)),
    Q("g09_coengagement", g09, Some(g09Sql)),
    Q("g10_assortativity", g10, Some(g10Sql)),
    Q("g11_source_modularity", g11, Some(g11Sql)),
    Q("g12_transitivity", g12, Some(g12Sql)),
    Q("g13_knn_degree", g13, Some(g13Sql)),
    Q("g14_threshold_stability", g14, Some(g14Sql)),
    Q("g15_contamination_ppr", g15, Some(g15Sql)),
    Q("g16_component_profile", g16, Some(g16Sql)),
    Q("g17_edge_support", g17, Some(g17Sql)),
    Q("g18_incremental_components", g18, Some(g18Sql)),
    Q("g19_component_density", g19, Some(g19Sql)),
    Q("g20_lpa_communities", g20, Some(g20Sql)),
    Q("g21_link_prediction", g21, Some(g21Sql)),
    Q("g22_two_hop_reach", g22, Some(g22Sql)))

  // ---------------------------------------------------------------- g16
  /** Component-size profile of the near-dup graph — the OVER-MERGING
    * alarm read before trusting d07's cluster collapse: the size
    * histogram (how many components of 2, of 3, …) plus the giant
    * component's share of all clustered docs in ppm. A Jaccard
    * threshold set too low (or a hot template family the stop-shingle
    * cut missed) shows up here as one component swallowing a large
    * share of the clustered mass — at which point "keep one per
    * cluster" would delete distinct content wholesale. g03 profiles
    * DEGREES (local density); this profiles the transitive closure the
    * keeper decision actually runs on.
    *
    * Scale (100 TB): two map-side-combinable aggregations over the
    * pairs-sized component map (component → size, size → count) and a
    * 1-row broadcast total; nothing touches the corpus. */
  def g16(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val comp = components(Dedup.jaccardPairs(s, dir, 0.5))
    val sizes = comp.groupBy($"component").agg(count(lit(1)).as("size"))
      .localCheckpoint(eager = false) // reused: histogram + totals
    val totals = sizes.agg(
      sum($"size").as("n_clustered"), max($"size").as("giant"))
    sizes.groupBy($"size").agg(count(lit(1)).as("n_components"))
      .crossJoin(broadcast(totals))
      .select($"size", $"n_components",
        ($"size" === $"giant").as("is_giant"),
        expr("(1000000 * size) div n_clustered").as("share_ppm_per_component"))
      .orderBy($"size")
  }

  /** Oracle: g01's recursive components → size histogram + giant flag. */
  val g16Sql: String =
    """WITH RECURSIVE words AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh0 AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
      |       FROM words, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)),
      |df AS (SELECT s, COUNT(*) AS df FROM sh0 GROUP BY s),
      |sh AS (SELECT doc_id, sh0.s FROM sh0 JOIN df ON sh0.s = df.s
      |       WHERE df.df <= 1000),
      |sizes0 AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY a.doc_id, b.doc_id),
      |edges AS (SELECT da, db FROM inter
      |          JOIN sizes0 sa ON da = sa.doc_id JOIN sizes0 sb ON db = sb.doc_id
      |          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5),
      |sym AS (SELECT da, db FROM edges UNION SELECT db, da FROM edges),
      |nodes AS (SELECT DISTINCT da AS doc_id FROM sym),
      |reach(src, dst) AS (
      |  SELECT doc_id, doc_id FROM nodes
      |  UNION
      |  SELECT r.src, e.db FROM reach r JOIN sym e ON r.dst = e.da),
      |comp AS (SELECT src AS doc_id, min(dst) AS component
      |         FROM reach GROUP BY src),
      |cs AS (SELECT component, COUNT(*) AS size FROM comp GROUP BY component),
      |tot AS (SELECT CAST(SUM(size) AS BIGINT) AS n_clustered,
      |               MAX(size) AS giant FROM cs)
      |SELECT CAST(size AS BIGINT) AS size,
      |  CAST(COUNT(*) AS BIGINT) AS n_components,
      |  size = tot.giant AS is_giant,
      |  CAST((1000000 * size) // tot.n_clustered AS BIGINT)
      |    AS share_ppm_per_component
      |FROM cs, tot GROUP BY size, tot.giant, tot.n_clustered
      |ORDER BY size""".stripMargin

  // ---------------------------------------------------------------- g20
  /** Synchronous label propagation (Raghavan et al. 2007), made fully
    * deterministic: every vertex starts as its own label; each round it
    * adopts the label most frequent among its NEIGHBORS, ties broken by
    * the SMALLEST label (the argmax is `max(struct(count, -label))` — a
    * pure integer function of the graph, no random visit order). Fixed
    * 4 rounds, g04's trade: predictable cost, unrolled-SQL oracle.
    *
    * Why beside g01: components answer "what's transitively linked";
    * LPA communities answer "what's DENSELY linked" — inside a giant
    * component chained by g17-style support-0 bridges, LPA splits the
    * mutually-corroborating groups that near-dup curation actually
    * wants to collapse, without the threshold re-sweep of g14.
    *
    * Scale (100 TB graph): the [[pagerank]] skeleton — edges symmetrize
    * and checkpoint once; each round is one join (label side, AQE
    * decides) + a two-level aggregation (vote counts on (v, label),
    * then the per-v argmax); lineage truncates per round. The two agg
    * levels ride consecutive exchanges on (v,label)→(v) — the second is
    * vertex-sized, not edge-sized. */
  def labelPropagation(edgesIn: DataFrame, rounds: Int = 4,
      localFinishEdges: Long = 5000000L): DataFrame = {
    val s = edgesIn.sparkSession
    import s.implicits._
    val e = edgesIn.na.drop(Seq("da", "db")).select(
      coalesce($"da".cast("long"), lit(0L)).as("da"),
      coalesce($"db".cast("long"), lit(0L)).as("db"))
      .localCheckpoint() // reused: count + (either strategy's) rounds
    // local finish (the components() trade): near-dup edge sets are tiny
    // relative to the corpus, so ONE executor task running the rounds
    // in-memory replaces 4 × (join + 2 aggs + checkpoint) of pure stage
    // latency. Identical output to the loop below by construction (same
    // synchronous update, same min-label tiebreak). No collect — the
    // task runs on an executor.
    if (e.count() <= localFinishEdges) {
      return e.as[(Long, Long)].coalesce(1).mapPartitions { it =>
        val adj = scala.collection.mutable.LongMap
          .empty[scala.collection.mutable.ArrayBuffer[Long]]
        def nb(v: Long) = adj.getOrElseUpdate(
          v, scala.collection.mutable.ArrayBuffer.empty[Long])
        it.foreach { case (a, b) => nb(a) += b; nb(b) += a }
        var lbl = scala.collection.mutable.LongMap.empty[Long]
        adj.keys.foreach(v => lbl(v) = v)
        for (_ <- 1 to rounds) {
          val next = scala.collection.mutable.LongMap.empty[Long]
          adj.foreach { case (v, ns) =>
            val cnt = scala.collection.mutable.LongMap.empty[Long]
            ns.foreach(n => cnt(lbl(n)) = cnt.getOrElse(lbl(n), 0L) + 1L)
            // argmax by (count desc, label asc) — the synchronous,
            // deterministic update the distributed loop applies
            var (bestL, bestC) = (Long.MaxValue, 0L)
            cnt.foreach { case (l, c) =>
              if (c > bestC || (c == bestC && l < bestL)) { bestL = l; bestC = c }
            }
            next(v) = bestL
          }
          lbl = next
        }
        lbl.keys.toArray.sorted.iterator.map(v => (v, lbl(v)))
      }.toDF("doc_id", "lbl")
    }
    val sym = e.union(e.select($"db".as("da"), $"da".as("db")))
      .localCheckpoint(eager = false) // reused every round
    var labels = sym.select($"da".as("doc_id")).distinct()
      .withColumn("lbl", $"doc_id")
    for (_ <- 1 to rounds) {
      val votes = sym
        .join(labels.select($"doc_id".as("src"), $"lbl"), $"da" === $"src")
        .groupBy($"db", $"lbl").agg(count(lit(1)).as("c"))
      labels = votes
        .groupBy($"db")
        .agg(max(struct($"c", (-$"lbl").as("nl"))).as("m"))
        .select($"db".as("doc_id"), (-$"m.nl").as("lbl"))
        .localCheckpoint(eager = false) // truncate per-round lineage
    }
    labels
  }

  /** g20: 4-round deterministic LPA communities of the near-dup graph
    * (same d02 edges at jaccard ≥ 0.5 as g01–g06), with community
    * sizes — the density-grain counterpart of g01's components. */
  def g20(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lab = labelPropagation(Dedup.jaccardPairs(s, dir, 0.5))
    val sizes = lab.groupBy($"lbl").agg(count(lit(1)).as("community_size"))
    lab.join(sizes, Seq("lbl"))
      .select($"doc_id", $"lbl".as("community"), $"community_size")
      .orderBy($"doc_id")
  }

  /** The 4 LPA rounds unrolled over the shared edge prelude; row_number
    * (c DESC, lbl ASC) mirrors the Spark argmax tiebreak exactly. */
  val g20Sql: String = {
    val prelude =
      """WITH words AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sh0 AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |       FROM words, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)),
        |df AS (SELECT s, COUNT(*) AS df FROM sh0 GROUP BY s),
        |sh AS (SELECT doc_id, sh0.s FROM sh0 JOIN df ON sh0.s = df.s
        |       WHERE df.df <= 1000),
        |sizes0 AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |          GROUP BY a.doc_id, b.doc_id),
        |edges AS (SELECT da, db FROM inter
        |          JOIN sizes0 sa ON da = sa.doc_id JOIN sizes0 sb ON db = sb.doc_id
        |          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5),
        |sym AS (SELECT da, db FROM edges UNION SELECT db, da FROM edges),
        |nodes AS (SELECT DISTINCT da AS doc_id FROM sym),
        |lab0 AS (SELECT doc_id, doc_id AS lbl FROM nodes)""".stripMargin
    val round = (i: Int) =>
      s"""v$i AS (SELECT s.db AS v, l.lbl, COUNT(*) AS c
         |       FROM sym s JOIN lab${i - 1} l ON s.da = l.doc_id GROUP BY 1, 2),
         |lab$i AS (SELECT v AS doc_id, lbl FROM (
         |    SELECT v, lbl, row_number() OVER (PARTITION BY v ORDER BY c DESC, lbl) AS rn
         |    FROM v$i) WHERE rn = 1)""".stripMargin
    s"""$prelude,
       |${(1 to 4).map(round).mkString(",\n")},
       |cs AS (SELECT lbl, COUNT(*) AS size FROM lab4 GROUP BY lbl)
       |SELECT l.doc_id, CAST(l.lbl AS BIGINT) AS community,
       |  CAST(cs.size AS BIGINT) AS community_size
       |FROM lab4 l JOIN cs ON l.lbl = cs.lbl
       |ORDER BY l.doc_id""".stripMargin
  }
}
