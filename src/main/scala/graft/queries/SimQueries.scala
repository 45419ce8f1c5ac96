package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over the `embeddings` table (vec_id, embedding:
  * array<float> dim-64, label) — brute-force cosine top-k baseline plus the
  * LSH-bucketed scale path.
  *
  * Numeric-stability contract with the oracle: only integer outputs (ids,
  * ranks, buckets) cross the comparison boundary; cosine scores order the
  * rows but are never emitted, so parallel-sum rounding can't flip a hash.
  */
object SimQueries {

  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** The banded multi-table sign-LSH key set used by q43/q44: L=4 tables ×
    * k=8 sign bits (table t signs dims 8t+1..8t+8). One row per (vec, table).
    */
  def bandKeyed(e: DataFrame, tables: Int = 4): DataFrame = {
    def bucketCol(t: Int) = (0 until 8).map(i =>
      when(element_at(col("embedding"), t * 8 + i + 1) > 0, lit(1 << i))
        .otherwise(lit(0))).reduce(_ + _)
    (0 until tables).map(t =>
        e.select(col("vec_id"), lit(t).as("tbl"), bucketCol(t).as("bucket")))
      .reduce(_ union _)
  }

  /** bandKeyed in ONE pass: each vector emits its 4 (tbl, bucket) rows via
    * stack instead of a 4-way union of per-table selects (which scanned the
    * source 4 times). Row set identical to bandKeyed(e, 4).
    */
  def bandKeyedStack(e: DataFrame): DataFrame = {
    def bucketCol(t: Int) = (0 until 8).map(i =>
      when(element_at(col("embedding"), t * 8 + i + 1) > 0, lit(1 << i))
        .otherwise(lit(0))).reduce(_ + _)
    e.select(Seq(col("vec_id")) ++ (0 until 4).map(t =>
        bucketCol(t).as(s"b$t")): _*)
      .selectExpr("vec_id",
        s"stack(4, ${(0 until 4).map(t => s"$t, b$t").mkString(", ")})" +
          " AS (tbl, bucket)")
  }

  /** Unsalted banded candidate join (the q43/q44 shape): pairs colliding in
    * any table. Ordered pairs with qid ≠ nid.
    */
  def bandPairs(keyed: DataFrame): DataFrame =
    keyed.as("a").join(keyed.as("b"),
        col("a.tbl") === col("b.tbl") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("qid"), col("b.vec_id").as("nid"))
      .distinct()

  /** SALTED banded candidate join — the skew recipe for pathological
    * buckets (a boilerplate-heavy embedding cluster can put a large share
    * of the corpus into ONE (tbl, bucket) key, making the per-bucket
    * self-join quadratic in a single task). Same treatment as skewed
    * crawl hosts (CrawlJob's salted politeness ranking):
    *   - BUILD side keeps one row per (vec, table), salted by
    *     hash(vec_id) % S → every join group holds ~|bucket|/S build rows;
    *   - PROBE side replicates each row S ways (one per salt value).
    * Every (a, b) collision still meets in exactly one salted group
    * (the one carrying b's salt), so the pair set is EXACTLY bandPairs' —
    * asserted with a mega-cluster input in AnnSaltSpec.
    */
  def saltedBandPairs(keyed: DataFrame, saltBuckets: Int): DataFrame = {
    val build = keyed.withColumn("salt",
      pmod(hash(col("vec_id")), lit(saltBuckets)))
    val probe = keyed.withColumn("salt",
      explode(array((0 until saltBuckets).map(lit): _*)))
    probe.as("a").join(build.as("b"),
        col("a.tbl") === col("b.tbl") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.salt") === col("b.salt") &&
        col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("qid"), col("b.vec_id").as("nid"))
      .distinct()
  }

  /** Brute-force cosine top-3 neighbors for the first 50 query vectors.
    * Plan shape: posexplode both sides → join on position → partial-agg the
    * dot products (the same shape `functions.aggregate`/`zip_with` compiles
    * to, but explode+agg lets the oracle mirror it exactly). Scale path:
    * replace the full cross pairing with q41's LSH buckets as the blocking
    * key; the per-bucket topology is identical.
    */
  val qCosineTopK = Q(
    "q40_cosine_topk",
    (s, dir) => {
      val e = emb(s, dir)
      val flat = e.select(col("vec_id"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .withColumn("v", col("v").cast("double"))
      val q = flat.filter(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("pos"), col("v").as("qv"))
      val dots = q.join(flat.select(col("vec_id").as("nid"), col("pos"),
          col("v").as("nv")), Seq("pos"))
        .filter(col("qid") =!= col("nid"))
        .groupBy(col("qid"), col("nid"))
        .agg(sum(col("qv") * col("nv")).as("dot"))
      val norms = flat.groupBy(col("vec_id"))
        .agg(sqrt(sum(col("v") * col("v"))).as("nrm"))
      val scored = dots
        .join(norms.select(col("vec_id").as("qid"), col("nrm").as("qn")), "qid")
        .join(norms.select(col("vec_id").as("nid"), col("nrm").as("nn")), "nid")
        .withColumn("cosine", col("dot") / (col("qn") * col("nn")))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cosine").desc, col("nid").asc)
      scored.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("qid").as("vec_id"), col("nid").as("neighbor_id"),
          col("rnk"))
    },
    Some("""WITH flat AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
        |         CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings
        |),
        |dots AS (
        |  SELECT q.vec_id AS qid, n.vec_id AS nid, SUM(q.v * n.v) AS dot
        |  FROM flat q JOIN flat n ON q.pos = n.pos AND q.vec_id <> n.vec_id
        |  WHERE q.vec_id < 50
        |  GROUP BY q.vec_id, n.vec_id
        |),
        |norms AS (
        |  SELECT vec_id, sqrt(SUM(v * v)) AS nrm FROM flat GROUP BY vec_id
        |)
        |SELECT vec_id, neighbor_id, rnk FROM (
        |  SELECT d.qid AS vec_id, d.nid AS neighbor_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY d.qid
        |      ORDER BY d.dot / (qn.nrm * nn.nrm) DESC, d.nid ASC) AS INT) AS rnk
        |  FROM dots d
        |  JOIN norms qn ON qn.vec_id = d.qid
        |  JOIN norms nn ON nn.vec_id = d.nid) t
        |WHERE rnk <= 3""".stripMargin))

  /** Random-hyperplane-style LSH buckets: sign bits of the first 8
    * dimensions (axis-aligned hyperplanes — deterministic and
    * oracle-expressible; production swaps in seeded random projections).
    * The bucket is the blocking key that makes ANN sub-quadratic.
    */
  val qLshBuckets = Q(
    "q41_ann_lsh_buckets",
    (s, dir) => {
      val bucket = (0 until 8).map(i =>
        when(element_at(col("embedding"), i + 1) > 0, lit(1 << i))
          .otherwise(lit(0))).reduce(_ + _)
      emb(s, dir).select(col("vec_id"), bucket.as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), min(col("vec_id")).as("min_vec"))
    },
    Some {
      val bits = (0 until 8).map(i =>
        s"CASE WHEN embedding[${i + 1}] > 0 THEN ${1 << i} ELSE 0 END")
        .mkString(" + ")
      s"""SELECT $bits AS bucket, COUNT(*) AS n, MIN(vec_id) AS min_vec
         |FROM embeddings GROUP BY 1""".stripMargin
    })

  /** Bucketed ANN: cosine top-1 within each LSH bucket — the actual
    * sub-quadratic search (join blocked on bucket), integer outputs only.
    */
  val qAnnBucketed = Q(
    "q42_ann_bucketed_top1",
    (s, dir) => {
      val bucket = (0 until 8).map(i =>
        when(element_at(col("embedding"), i + 1) > 0, lit(1 << i))
          .otherwise(lit(0))).reduce(_ + _)
      val e = emb(s, dir).withColumn("bucket", bucket)
      val flat = e.select(col("vec_id"), col("bucket"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .withColumn("v", col("v").cast("double"))
      val dots = flat.as("a").join(flat.as("b"),
          col("a.bucket") === col("b.bucket") &&
          col("a.pos") === col("b.pos") &&
          col("a.vec_id") =!= col("b.vec_id"))
        .groupBy(col("a.vec_id").as("qid"), col("b.vec_id").as("nid"))
        .agg(sum(col("a.v") * col("b.v")).as("dot"))
      val norms = flat.groupBy(col("vec_id"))
        .agg(sqrt(sum(col("v") * col("v"))).as("nrm"))
      val w = Window.partitionBy(col("qid"))
        .orderBy((col("dot") / (col("qn") * col("nn"))).desc, col("nid").asc)
      dots
        .join(norms.select(col("vec_id").as("qid"), col("nrm").as("qn")), "qid")
        .join(norms.select(col("vec_id").as("nid"), col("nrm").as("nn")), "nid")
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") === 1)
        .select(col("qid").as("vec_id"), col("nid").as("nn_id"))
    },
    Some {
      val bits = (0 until 8).map(i =>
        s"CASE WHEN embedding[${i + 1}] > 0 THEN ${1 << i} ELSE 0 END")
        .mkString(" + ")
      s"""WITH e AS (SELECT vec_id, embedding, $bits AS bucket FROM embeddings),
         |flat AS (
         |  SELECT vec_id, bucket, generate_subscripts(embedding, 1) AS pos,
         |         CAST(unnest(embedding) AS DOUBLE) AS v
         |  FROM e
         |),
         |dots AS (
         |  SELECT a.vec_id AS qid, b.vec_id AS nid, SUM(a.v * b.v) AS dot
         |  FROM flat a JOIN flat b ON a.bucket = b.bucket AND a.pos = b.pos
         |    AND a.vec_id <> b.vec_id
         |  GROUP BY a.vec_id, b.vec_id
         |),
         |norms AS (SELECT vec_id, sqrt(SUM(v * v)) AS nrm FROM flat GROUP BY vec_id)
         |SELECT vec_id, nn_id FROM (
         |  SELECT d.qid AS vec_id, d.nid AS nn_id,
         |    ROW_NUMBER() OVER (PARTITION BY d.qid
         |      ORDER BY d.dot / (qn.nrm * nn.nrm) DESC, d.nid ASC) AS rnk
         |  FROM dots d
         |  JOIN norms qn ON qn.vec_id = d.qid
         |  JOIN norms nn ON nn.vec_id = d.nid) t
         |WHERE rnk = 1""".stripMargin
    })

  /** Banded multi-table sign-LSH ANN — the 100 TB-scale path. L=4 tables ×
    * k=8 bits (table t signs dims 8t+1..8t+8): a candidate pair needs to
    * collide in ANY table, so recall grows with L while each table's bucket
    * stays ~n/256 — no single-table quadratic blowup (the q41/q42 weakness).
    * Candidates are deduped across tables, then scored EXACTLY (cosine
    * top-1 per query). Same banding structure as MinHash-LSH (q28).
    *
    * Scale notes: the per-table bucket join is the only candidate-generation
    * shuffle; a skewed bucket (many near-zero dims) is handled like skewed
    * hosts — salt the bucket key into j sub-buckets on the build side and
    * replicate the probe side j ways (exact, bounded; PERF.md). Query set
    * restricted to vec_id < 200 (the q40 pattern: a query workload, not
    * all-pairs).
    */
  val qAnnBanded = Q(
    "q43_ann_banded",
    (s, dir) => {
      val e = emb(s, dir)
      // one scan, 4 (tbl, bucket) rows per vector via stack — the 4-way
      // union of per-table selects read the parquet 4 times
      val keyed = bandKeyedStack(e)
      val pairs = keyed.as("a").join(keyed.as("b"),
          col("a.tbl") === col("b.tbl") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") =!= col("b.vec_id"))
        .filter(col("a.vec_id") < 200)
        .select(col("a.vec_id").as("qid"), col("b.vec_id").as("nid"))
        .distinct()
      val flat = e.select(col("vec_id"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .withColumn("v", col("v").cast("double"))
      val dots = pairs
        .join(flat.select(col("vec_id").as("qid"), col("pos"),
          col("v").as("qv")), Seq("qid"))
        .join(flat.select(col("vec_id").as("nid"), col("pos"),
          col("v").as("nv")), Seq("nid", "pos"))
        .groupBy(col("qid"), col("nid"))
        .agg(sum(col("qv") * col("nv")).as("dot"))
      val norms = flat.groupBy(col("vec_id"))
        .agg(sqrt(sum(col("v") * col("v"))).as("nrm"))
      val w = Window.partitionBy(col("qid"))
        .orderBy((col("dot") / (col("qn") * col("nn"))).desc, col("nid").asc)
      dots
        .join(norms.select(col("vec_id").as("qid"), col("nrm").as("qn")), "qid")
        .join(norms.select(col("vec_id").as("nid"), col("nrm").as("nn")), "nid")
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") === 1)
        .select(col("qid").as("vec_id"), col("nid").as("nn_id"))
    },
    Some {
      val bits = (1 to 8).map(i =>
        s"CASE WHEN embedding[tbl*8+$i] > 0 THEN ${1 << (i - 1)} ELSE 0 END")
        .mkString("\n     + ")
      s"""WITH tables AS (SELECT CAST(unnest(range(0, 4)) AS INT) AS tbl),
         |keyed AS (
         |  SELECT e.vec_id, t.tbl,
         |    ($bits) AS bucket
         |  FROM embeddings e CROSS JOIN tables t
         |),
         |pairs AS (
         |  SELECT DISTINCT a.vec_id AS qid, b.vec_id AS nid
         |  FROM keyed a JOIN keyed b
         |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id <> b.vec_id
         |  WHERE a.vec_id < 200
         |),
         |flat AS (
         |  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
         |         CAST(unnest(embedding) AS DOUBLE) AS v
         |  FROM embeddings
         |),
         |dots AS (
         |  SELECT p.qid, p.nid, SUM(q.v * n.v) AS dot
         |  FROM pairs p
         |  JOIN flat q ON q.vec_id = p.qid
         |  JOIN flat n ON n.vec_id = p.nid AND n.pos = q.pos
         |  GROUP BY p.qid, p.nid
         |),
         |norms AS (SELECT vec_id, sqrt(SUM(v * v)) AS nrm FROM flat GROUP BY vec_id)
         |SELECT qid AS vec_id, nid AS nn_id FROM (
         |  SELECT d.qid, d.nid,
         |    ROW_NUMBER() OVER (PARTITION BY d.qid
         |      ORDER BY d.dot / (qn.nrm * nn.nrm) DESC, d.nid ASC) AS rnk
         |  FROM dots d
         |  JOIN norms qn ON qn.vec_id = d.qid
         |  JOIN norms nn ON nn.vec_id = d.nid) t
         |WHERE rnk = 1""".stripMargin
    })

  /** Embedding-cosine near-duplicate detection — the fifth dedup family
    * (exact / normalized / MinHash / SimHash / embedding-cosine). The
    * embeddings table has no duplicates, so every 9th vector is re-added
    * under id+100000 (the docs_aug trick). Candidates come from the q43
    * banded LSH (exact duplicates collide in EVERY table, so recall for
    * true dups is 1.0); the near-dup test is EXACT INTEGER arithmetic:
    * components quantized to floor(v·1000), cosine ≥ 0.95 decided as
    * 400·dot² ≥ 361·|q|²·|n|² with dot > 0 — no float threshold can flip
    * between engines. Output: (dup_id, keeper_id = min smaller near-dup).
    */
  val qEmbeddingNearDup = Q(
    "q44_embedding_neardup",
    (s, dir) => {
      val base = emb(s, dir).select(col("vec_id"), col("embedding"))
      val aug = base.union(
        base.filter(col("vec_id") % 9 === 0)
          .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
      val keyed = bandKeyedStack(aug)
      val pairs = keyed.as("a").join(keyed.as("b"),
          col("a.tbl") === col("b.tbl") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") > col("b.vec_id"))
        .select(col("a.vec_id").as("qid"), col("b.vec_id").as("nid"))
        .distinct()
      val flat = aug.select(col("vec_id"),
          posexplode(transform(col("embedding"),
            v => floor(v.cast("double") * 1000).cast("long")))
            .as(Seq("pos", "v")))
      val norms2 = flat.groupBy(col("vec_id"))
        .agg(sum(col("v") * col("v")).as("n2"))
      val dots = pairs
        .join(flat.select(col("vec_id").as("qid"), col("pos"),
          col("v").as("qv")), Seq("qid"))
        .join(flat.select(col("vec_id").as("nid"), col("pos"),
          col("v").as("nv")), Seq("nid", "pos"))
        .groupBy(col("qid"), col("nid"))
        .agg(sum(col("qv") * col("nv")).as("dot"))
      dots
        .join(norms2.select(col("vec_id").as("qid"), col("n2").as("q2")), "qid")
        .join(norms2.select(col("vec_id").as("nid"), col("n2").as("m2")), "nid")
        .filter(col("dot") > 0 &&
          lit(400L) * col("dot") * col("dot") >= lit(361L) * col("q2") * col("m2"))
        .groupBy(col("qid").as("dup_id"))
        .agg(min(col("nid")).as("keeper_id"))
    },
    Some {
      val bits = (1 to 8).map(i =>
        s"CASE WHEN embedding[tbl*8+$i] > 0 THEN ${1 << (i - 1)} ELSE 0 END")
        .mkString("\n     + ")
      s"""WITH emb_aug AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 100000 AS vec_id, embedding
         |  FROM embeddings WHERE vec_id % 9 = 0
         |),
         |tables AS (SELECT CAST(unnest(range(0, 4)) AS INT) AS tbl),
         |keyed AS (
         |  SELECT e.vec_id, t.tbl,
         |    ($bits) AS bucket
         |  FROM emb_aug e CROSS JOIN tables t
         |),
         |pairs AS (
         |  SELECT DISTINCT a.vec_id AS qid, b.vec_id AS nid
         |  FROM keyed a JOIN keyed b
         |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id > b.vec_id
         |),
         |flat AS (
         |  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
         |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS v
         |  FROM emb_aug
         |),
         |norms2 AS (SELECT vec_id, SUM(v * v) AS n2 FROM flat GROUP BY vec_id),
         |dots AS (
         |  SELECT p.qid, p.nid, SUM(q.v * n.v) AS dot
         |  FROM pairs p
         |  JOIN flat q ON q.vec_id = p.qid
         |  JOIN flat n ON n.vec_id = p.nid AND n.pos = q.pos
         |  GROUP BY p.qid, p.nid
         |)
         |SELECT d.qid AS dup_id, MIN(d.nid) AS keeper_id
         |FROM dots d
         |JOIN norms2 a ON a.vec_id = d.qid
         |JOIN norms2 b ON b.vec_id = d.nid
         |WHERE d.dot > 0 AND 400 * d.dot * d.dot >= 361 * a.n2 * b.n2
         |GROUP BY d.qid""".stripMargin
    })

  // ---- IVF (inverted-file) ANN — the second scale path the brief names
  // ("an IVF or LSH-bucketed variant"). Coarse quantizer: the first 16
  // corpus vectors serve as deterministic centroids (production swaps in
  // k-means-trained ones — the Spark plumbing is identical: an assignment
  // join + cluster-pruned probe). ALL arithmetic is the q44 integer
  // recipe — per-dimension quantize floor(v·1000) and EXACT integer dot
  // products — so assignment argmax and ranking are bit-identical in any
  // engine (no float-sum rounding can flip a cluster or a rank).

  /** Quantized flat view: (vec_id, pos, qv) with qv = floor(v·1000). */
  private def flatQ(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("vec_id"), col("pos"),
        floor(col("v").cast("double") * 1000).cast("long").as("qv"))

  /** Integer dots of every vector against the 16 centroids, ranked per
    * vector (rn=1 → assignment; rn≤2 → the probe list).
    */
  private def centroidRanked(e: DataFrame): DataFrame = {
    val f = flatQ(e)
    val cent = f.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("pos"), col("qv").as("cv"))
    val dots = f.join(cent, Seq("pos"))
      .groupBy(col("vec_id"), col("cid"))
      .agg(sum(col("qv") * col("cv")).as("dot"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("dot").desc, col("cid").asc)
    dots.withColumn("rn", row_number().over(w))
  }

  private val centroidRankedSql =
    """flatq AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
      |         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS qv
      |  FROM embeddings
      |),
      |cdots AS (
      |  SELECT f.vec_id AS vec_id, c.vec_id AS cid, SUM(f.qv * c.qv) AS dot
      |  FROM flatq f JOIN flatq c ON f.pos = c.pos AND c.vec_id < 16
      |  GROUP BY f.vec_id, c.vec_id
      |),
      |cranked AS (
      |  SELECT vec_id, cid, dot,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id
      |      ORDER BY dot DESC, cid ASC) AS rn
      |  FROM cdots
      |)""".stripMargin

  /** IVF coarse assignment (q49): each vector lands in the inverted list
    * of its argmax-dot centroid. Output is the aggregated list profile
    * (the q41 shape — hash-stable ints only). Scale: the assignment join
    * is vectors × 16 centroid rows (broadcast), one shuffle per aggregate;
    * the inverted lists ARE the partition-pruning key for probes.
    */
  val qIvfAssign = Q(
    "q49_ivf_assign",
    (s, dir) =>
      centroidRanked(emb(s, dir)).filter(col("rn") === 1)
        .groupBy(col("cid").as("cluster"))
        .agg(count(lit(1)).as("n"), min(col("vec_id")).as("min_vec")),
    Some("WITH " + centroidRankedSql + """
      |SELECT cid AS cluster, COUNT(*) AS n, MIN(vec_id) AS min_vec
      |FROM cranked WHERE rn = 1 GROUP BY cid""".stripMargin))

  /** IVF probe (q53): queries = vec_ids 16..23, nprobe=2 — candidates are
    * ONLY the members of each query's two nearest inverted lists (the
    * cluster-pruned search that replaces q40's all-pairs scan), exact
    * integer-dot re-rank, top-3. Scale: candidate volume ≈ 2/16 of the
    * corpus per query instead of all of it; the re-rank join blocks on
    * the cluster id.
    */
  val qIvfTopK = Q(
    "q53_ivf_topk",
    (s, dir) => {
      val e = emb(s, dir)
      val ranked = centroidRanked(e)
      val assign = ranked.filter(col("rn") === 1)
        .select(col("vec_id").as("nid"), col("cid").as("cluster"))
      val probe = ranked
        .filter(col("vec_id") >= 16 && col("vec_id") < 24 && col("rn") <= 2)
        .select(col("vec_id").as("qid"), col("cid").as("cluster"))
      val cands = probe.join(assign, Seq("cluster"))
        .filter(col("qid") =!= col("nid"))
        .select(col("qid"), col("nid")).distinct()
      val f = flatQ(e)
      val dots = cands
        .join(f.select(col("vec_id").as("qid"), col("pos"), col("qv")),
          Seq("qid"))
        .join(f.select(col("vec_id").as("nid"), col("pos"),
          col("qv").as("nv")), Seq("nid", "pos"))
        .groupBy(col("qid"), col("nid"))
        .agg(sum(col("qv") * col("nv")).as("dot"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("dot").desc, col("nid").asc)
      dots.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("qid").as("vec_id"), col("nid").as("neighbor_id"),
          col("rnk").cast("int").as("rnk"))
    },
    Some("WITH " + centroidRankedSql + """,
      |assign AS (SELECT vec_id AS nid, cid AS cluster FROM cranked WHERE rn = 1),
      |probe AS (
      |  SELECT vec_id AS qid, cid AS cluster FROM cranked
      |  WHERE vec_id >= 16 AND vec_id < 24 AND rn <= 2
      |),
      |cands AS (
      |  SELECT DISTINCT p.qid, a.nid FROM probe p
      |  JOIN assign a ON a.cluster = p.cluster AND a.nid <> p.qid
      |),
      |dots AS (
      |  SELECT c.qid, c.nid, SUM(q.qv * n.qv) AS dot
      |  FROM cands c
      |  JOIN flatq q ON q.vec_id = c.qid
      |  JOIN flatq n ON n.vec_id = c.nid AND n.pos = q.pos
      |  GROUP BY c.qid, c.nid
      |)
      |SELECT vec_id, neighbor_id, rnk FROM (
      |  SELECT qid AS vec_id, nid AS neighbor_id,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY qid
      |      ORDER BY dot DESC, nid ASC) AS INT) AS rnk
      |  FROM dots) t
      |WHERE rnk <= 3""".stripMargin))

  /** IVF TRAINING step (q86): one Lloyd iteration — every cluster's new
    * centroid is the integer mean (sum div n) of its assigned members, and
    * the output is the per-dimension (old, new, |delta|) movement table a
    * k-means loop monitors for convergence. All integer arithmetic on the
    * quantized components, so both engines compute identical centroids.
    *
    * Scale: exactly two shuffles — the assignment argmax (q49's broadcast
    * of 16 centroids, no corpus shuffle) and ONE (cluster, pos)-keyed
    * partial-agg sum. This is how IVF indexes train distributedly: each
    * Lloyd round is a scan + a k·dim-sized aggregate, never a collect; the
    * k·dim result broadcasts back for the next round's assignment.
    */
  val qIvfRefine = Q(
    "q86_ivf_refine",
    (s, dir) => {
      val e = emb(s, dir)
      val f = flatQ(e)
      val assign = centroidRanked(e).filter(col("rn") === 1)
        .select(col("vec_id"), col("cid").as("cluster"))
      val newc = f.join(assign, Seq("vec_id"))
        .groupBy(col("cluster"), col("pos"))
        .agg(sum(col("qv")).as("sq"), count(lit(1)).as("n"))
        .select(col("cluster"), col("pos"),
          expr("sq div n").as("new_cv"), col("n"))
      val oldc = f.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cluster"), col("pos"),
          col("qv").as("old_cv"))
      newc.join(oldc, Seq("cluster", "pos"))
        .select(col("cluster"), (col("pos") + 1).cast("long").as("pos"),
          col("old_cv"), col("new_cv"),
          abs(col("new_cv") - col("old_cv")).as("move"), col("n"))
    },
    Some("WITH " + centroidRankedSql + """,
      |assign AS (SELECT vec_id, cid AS cluster FROM cranked WHERE rn = 1),
      |newc AS (
      |  SELECT a.cluster, f.pos,
      |    CAST(SUM(f.qv) // COUNT(*) AS BIGINT) AS new_cv,
      |    COUNT(*) AS n
      |  FROM flatq f JOIN assign a USING (vec_id)
      |  GROUP BY a.cluster, f.pos
      |)
      |SELECT nc.cluster AS cluster, CAST(nc.pos AS BIGINT) AS pos,
      |  oc.qv AS old_cv, nc.new_cv AS new_cv,
      |  abs(nc.new_cv - oc.qv) AS move, nc.n AS n
      |FROM newc nc
      |JOIN flatq oc ON oc.vec_id = nc.cluster AND oc.pos = nc.pos""".stripMargin))

  val all: Seq[Q] =
    Seq(qCosineTopK, qLshBuckets, qAnnBucketed, qAnnBanded, qEmbeddingNearDup,
      qIvfAssign, qIvfTopK, qIvfRefine)
}
