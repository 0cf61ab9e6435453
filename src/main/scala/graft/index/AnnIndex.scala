package graft.index

import java.util.concurrent.ConcurrentHashMap

import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What an index directory claims to be — persisted as a 1-row parquet
  * and validated on every serve/ensure. `nVectors` ties the index to a
  * corpus SNAPSHOT's size; `corpusFp` (format v2) ties it to the
  * snapshot's CONTENT — a corpus regenerated in place with the same row
  * count (exactly what fixture re-generation does) no longer silently
  * serves a stale index. */
case class IndexMeta(formatVersion: Int, corpusDir: String,
    nVectors: Long, dim: Int, ivfK: Int, pqM: Int, pqK: Int,
    corpusFp: Long)

/** BUILD/SERVE split for the ANN family (VERDICT_r07 item 2): a
  * production index is built ONCE per corpus snapshot and SERVED by
  * every query after it — the reference's own write-once/read-many
  * idempotency story (SURVEY §1 R5/R9) applied to vectors. Before
  * this, every Similarity query rebuilt centroids/assignments/codebooks
  * per session (materialize-once made that per-session-cheap, but a
  * restarted service paid the n·K assignment argmax again).
  *
  * Artifacts under one index root, all plain parquet (readable by any
  * engine, splittable, column-pruned on serve):
  *   - `centroids/`    (cell, qc, nc)            — K rows, the coarse book
  *   - `assignments/`  (vec_id, cell, q, nrm, ccos) — one row per vector,
  *     the posting-list side; carries the quantized vector so in-cell
  *     exact search needs NO join back to the corpus
  *   - `codebook/`     (m, k, centroid)          — M·K rows, the PQ book
  *   - `codes/`        (vec_id, cell, code)      — one row per vector,
  *     the ~9-byte/vector ADC scan side
  *   - `meta/`         ([[IndexMeta]])           — 1 row, the validity claim
  *   - `tombstones/`   (vec_id)                  — OPTIONAL dead-id set
  *     ([[delete]]); serve paths anti-join it, [[vacuum]] reclaims it
  *
  * SINK ([[write]]): one assignment pass + one encode pass, each a
  * single corpus scan, written with the corpus partitioning (no
  * repartition — at 100 TB the index write is bound by the same scan
  * that any one consumer query already pays). The coarse book comes in
  * two grades: the NAIVE deterministic seed (the K smallest vec_ids —
  * oracle-identical to the in-session q_ann_ivf family, but only
  * meaningful on a dense-from-0 id space, which [[write]] now REFUSES
  * to violate rather than silently writing an empty index), and the
  * TRAINED book ([[trainBook]]/[[writeTrained]], VERDICT_r08 item 1):
  * Lloyd's k-means seeded from HASH-ORDERED ids — no assumption about
  * the id space at all — iterated to the `q_kmeans_shift` stop
  * criterion. SOURCE ([[annSearch]] / [[adcSearch]]): plans read the
  * parquet artifacts directly — the served IVF search contains NO
  * broadcast-nested-loop argmax and the served ADC scan no encode,
  * which is the whole point (spec'd by plan shape in `IndexServeSpec`).
  * [[ensure]] is the deployment contract: serve a VALID existing index
  * untouched, rebuild a missing/stale one, and refuse to clobber an
  * index written by a NEWER format.
  */
object AnnIndex {

  /** Bump when the artifact layout changes. An index claiming a newer
    * version than this build understands is never overwritten.
    * v2: meta gained `corpusFp` (content fingerprint — a v1 index
    * fails the meta read and rebuilds cleanly). */
  val FormatVersion = 2

  private def p(root: String, part: String) = s"$root/$part"

  /** Lloyd's k-means over the quantized corpus, returning the trained
    * coarse book (cell, qc, nc) — the production-grade alternative to
    * the naive smallest-id seed (VERDICT_r08 item 1):
    *
    *   - SEED: the K corpus vectors with the smallest xxhash64(vec_id)
    *     (ties on vec_id) — deterministic and free of ANY id-space
    *     assumption (the naive rule's dense-from-0 trap: a corpus whose
    *     ids start above K seeded NOTHING).
    *   - ITERATE: assignment is the same broadcast-K cosine argmax as
    *     every consumer ([[Similarity.assignedToBook]] — one corpus
    *     scan, no corpus shuffle); the refine step is the native
    *     `vec_sum` aggregate (K·d partial buffers cross the exchange,
    *     never n·d exploded rows — the q_kmeans_step shape), with the
    *     K·d result collected to the driver (the book IS
    *     driver/broadcast-sized by construction). Empty cells keep
    *     their previous centroid.
    *   - STOP: total squared centroid shift == 0 (the q_kmeans_shift
    *     criterion) or `maxIters` — integer centroids make exact
    *     convergence reachable, and the cap bounds the corpus-scan
    *     count either way.
    *
    * Cost: ≤ maxIters corpus scans. At 100 TB one trains on a SAMPLE
    * first and runs a final full assignment — which is exactly what
    * passing the trained book to [[write]] does (write re-assigns the
    * full corpus once against the frozen book). */
  def trainBook(spark: SparkSession, corpusDir: String,
      maxIters: Int = 8): DataFrame = {
    val (k, _, _, _, n) = Similarity.indexGeometry(spark, corpusDir)
    require(n >= k,
      s"AnnIndex: cannot train a $k-cell book over a $n-vector corpus")
    val v = Similarity.quantizedFrame(spark, corpusDir)
    var book: Array[Array[Long]] = v
      .select(col("vec_id"), col("q"), xxhash64(col("vec_id")).as("h"))
      .orderBy(col("h"), col("vec_id")).limit(k)
      .select(col("q")).collect()
      .map(_.getAs[scala.collection.Seq[Long]](0).toArray)
    var iter = 0
    var shift = Long.MaxValue
    while (iter < maxIters && shift > 0L) {
      val stepped = Similarity
        .assignedToBook(spark, corpusDir, bookFrame(spark, book))
        .groupBy("cell")
        .agg(count(lit(1)).as("n"),
          graft.functions.LongVectorSum.vecSum(col("q")).as("qsum"))
        .collect()
      val next = book.clone()
      stepped.foreach { r =>
        val cell = r.getLong(0).toInt
        val cnt = r.getLong(1)
        next(cell) = r.getAs[scala.collection.Seq[Long]](2)
          .map(s => Math.floorDiv(s, cnt)).toArray
      }
      shift = book.indices.iterator.map { c =>
        val (a, b) = (book(c), next(c))
        a.indices.iterator.map { i => val d = a(i) - b(i); d * d }.sum
      }.sum
      book = next
      iter += 1
    }
    bookFrame(spark, book)
  }

  /** (cell, qc, nc) frame from a driver-side book. `nc` floors at 1 so
    * a degenerate all-zero mean centroid cannot divide-by-zero the
    * cosine (it then simply never wins an argmax). */
  private def bookFrame(spark: SparkSession,
      book: Array[Array[Long]]): DataFrame = {
    import spark.implicits._
    book.toSeq.zipWithIndex.map { case (qc, cell) =>
      (cell.toLong, qc.toSeq, math.max(1L, qc.map(x => x * x).sum))
    }.toDF("cell", "qc", "nc")
  }

  /** Build every artifact from the corpus at `corpusDir` into `root`
    * (overwrite). Two corpus scans total: the assignment argmax pass
    * and the PQ encode pass (codes then join the written assignment's
    * cell — a read of the narrow artifact, not a third corpus scan).
    *
    * `book = None` uses the NAIVE deterministic seed — the K smallest
    * vec_ids, oracle-identical to the in-session q_ann_ivf family —
    * and REFUSES (never a silently empty index) a corpus whose id
    * space cannot provide all K seeds; such corpora build through
    * [[writeTrained]]. `book = Some(frame)` persists the given
    * (cell, qc, nc) book and assigns the corpus against the PERSISTED
    * copy (read back from parquet), so the artifacts are self-
    * consistent by construction. */
  def write(spark: SparkSession, corpusDir: String, root: String,
      book: Option[DataFrame] = None): IndexMeta = {
    import spark.implicits._
    val (ivfK, pqM, pqK, d, n) = Similarity.indexGeometry(spark, corpusDir)
    val fp = Similarity.corpusFingerprint(spark, corpusDir)
    book match {
      case None =>
        val seeded = Similarity.ivfCentroidsPlan(spark, corpusDir).count()
        require(seeded == ivfK,
          s"AnnIndex: naive centroid seeding (vec_id < $ivfK) found only " +
            s"$seeded of $ivfK seeds — the corpus id space is not " +
            "dense-from-0; build with writeTrained() (hash-seeded " +
            "k-means book, no id assumption)")
        Similarity.ivfCentroidsPlan(spark, corpusDir)
          .write.mode("overwrite").parquet(p(root, "centroids"))
        Similarity.ivfAssignedPlan(spark, corpusDir)
          .write.mode("overwrite").parquet(p(root, "assignments"))
      case Some(b) =>
        b.select(col("cell"), col("qc"), col("nc"))
          .write.mode("overwrite").parquet(p(root, "centroids"))
        Similarity.assignedToBook(spark, corpusDir,
            spark.read.parquet(p(root, "centroids")))
          .write.mode("overwrite").parquet(p(root, "assignments"))
    }
    Similarity.pqCodebookFrame(spark, corpusDir)
      .write.mode("overwrite").parquet(p(root, "codebook"))
    val cells = spark.read.parquet(p(root, "assignments"))
      .select(col("vec_id"), col("cell"))
    Similarity.qPqCode(spark, corpusDir).select(col("vec_id"), col("code"))
      .join(cells, "vec_id")
      .select(col("vec_id"), col("cell"), col("code"))
      .write.mode("overwrite").parquet(p(root, "codes"))
    val meta = IndexMeta(FormatVersion, corpusDir, n, d, ivfK, pqM, pqK, fp)
    Seq(meta).toDS().toDF().coalesce(1)
      .write.mode("overwrite").parquet(p(root, "meta"))
    meta
  }

  /** [[write]] with a freshly [[trainBook]]-trained coarse book — the
    * path for ANY corpus (no id-space assumption) and the
    * better-balanced book for every corpus (measured in
    * IndexServeSpec: trained vs naive cell balance). */
  def writeTrained(spark: SparkSession, corpusDir: String, root: String,
      maxIters: Int = 8): IndexMeta =
    write(spark, corpusDir, root,
      Some(trainBook(spark, corpusDir, maxIters)))

  /** Read the validity claim; None if absent/unreadable. */
  def readMeta(spark: SparkSession, root: String): Option[IndexMeta] =
    try {
      import spark.implicits._
      spark.read.parquet(p(root, "meta")).as[IndexMeta].collect().headOption
    } catch { case _: Exception => None }

  private def served(spark: SparkSession, root: String, part: String): DataFrame = {
    val meta = readMeta(spark, root).getOrElse(throw new IllegalStateException(
      s"AnnIndex: no readable index meta at $root — build with write() or ensure()"))
    require(meta.formatVersion == FormatVersion,
      s"AnnIndex: $root is format v${meta.formatVersion}, this build serves v$FormatVersion")
    spark.read.parquet(p(root, part))
  }

  /** The tombstone set (vec_id rows), or None when no delete has ever
    * run against this root — the artifact is OPTIONAL (a v2 index
    * without it is simply fully live), so absence is not an error. */
  private def tombstones(spark: SparkSession, root: String): Option[DataFrame] =
    try {
      val t = spark.read.parquet(p(root, "tombstones")).select(col("vec_id"))
      Some(t)
    } catch { case _: Exception => None }

  /** Mask tombstoned ids out of a per-vector artifact frame. A
    * LEFT ANTI against the (small) tombstone set — broadcast by Spark's
    * own size estimate; the posting/code side streams. */
  private def masked(spark: SparkSession, root: String,
      frame: DataFrame): DataFrame =
    tombstones(spark, root) match {
      case Some(t) => frame.join(t, Seq("vec_id"), "left_anti")
      case None => frame
    }

  /** The served posting-list frame (vec_id, cell, q, nrm, ccos) with
    * tombstoned vectors masked out — every serve path (annSearch,
    * query, adcSearch) sees only live vectors, so cell populations
    * (and thus the hot-cell cap) match an index rebuilt without the
    * deleted rows. Maintenance paths ([[append]]'s dup check, the
    * [[vacuum]] rewrite) read RAW. */
  def assignments(spark: SparkSession, root: String): DataFrame =
    masked(spark, root, served(spark, root, "assignments"))

  /** The served coarse centroids (cell, qc, nc). */
  def centroids(spark: SparkSession, root: String): DataFrame =
    served(spark, root, "centroids")

  /** SERVED IVF search: the in-cell exact top-3 over the parquet
    * posting lists — value-identical to `q_ann_ivf` built in-session
    * (same hot-cell cap, same tie order, same sub-cell split), with the
    * n·K assignment argmax amortized into the one-time build. The
    * sub-cell geometry (like the coarse book) is frozen at BUILD scale:
    * bits derive from meta's row count, exactly what the in-session
    * search derives from its corpus count — identical post-build, and
    * re-sized only by the re-train that also re-sizes K. */
  def annSearch(spark: SparkSession, root: String): DataFrame = {
    val meta = readMeta(spark, root).getOrElse(throw new IllegalStateException(
      s"AnnIndex: no readable index meta at $root"))
    Similarity.ivfSearch(assignments(spark, root), meta.dim,
      Similarity.ivfSubBitsFor(meta.nVectors))
  }

  /** SERVED ADC search: LUTs from the persisted codebook (M·K rows —
    * a bounded index-metadata read) against the persisted packed
    * codes; value-identical to `q_ivf_pq`. Queries' LUT entries are
    * computed fresh from the query vectors, as a real serving path
    * does. */
  def adcSearch(spark: SparkSession, corpusDir: String, root: String): DataFrame = {
    val meta = readMeta(spark, root).getOrElse(throw new IllegalStateException(
      s"AnnIndex: no readable index meta at $root"))
    val book = readCodebook(spark, root, meta)
    val codes = masked(spark, root,
      served(spark, root, "codes")).select(col("vec_id"), col("code"))
    Similarity.adcTopK(codes, Similarity.pqLuts(spark, corpusDir, book))
  }

  /** The persisted PQ codebook as a driver array (M·K rows — bounded
    * index metadata), with the same missing-entry diagnostic on every
    * read path. */
  private def readCodebook(spark: SparkSession, root: String,
      meta: IndexMeta): Array[Array[Array[Long]]] = {
    val rows = served(spark, root, "codebook")
      .select(col("m"), col("k"), col("centroid")).collect()
    Array.tabulate(meta.pqM, meta.pqK) { (m, k) =>
      rows.find(r => r.getInt(0) == m && r.getInt(1) == k)
        .getOrElse(throw new IllegalStateException(
          s"AnnIndex: codebook at $root is missing entry ($m,$k)"))
        .getAs[scala.collection.Seq[Long]](2).toArray
    }
  }

  /** The QUERY-SERVING API — what a retrieval service actually calls
    * (the `annSearch` diagnostic searches every indexed vector's own
    * cell; a service answers EXTERNAL queries): route each query
    * vector to its `nprobe` nearest coarse centroids (a |Q|·K
    * broadcast argmax over the tiny served centroid frame), then exact
    * cosine top-`k` over ONLY the probed cells' posting lists. Cost
    * per query ≈ nprobe·(n/K) candidates instead of n — the IVF
    * contract — and the posting-list side carries its quantized
    * vectors, so serving never touches the corpus table. `nprobe` is
    * the recall dial (`q_ivf_probe_curve` measures it; at nprobe = K
    * this degrades to exact brute force over the indexed set, which is
    * what the spec exploits as ground truth). Ties break on
    * (cosine desc, vec_id) like every ANN operator here.
    *
    * `queries`: (query_id, embedding) — quantized with the same
    * round(×1000) rule as the index build.
    */
  def query(spark: SparkSession, root: String, queries: DataFrame,
      nprobe: Int = 1, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col("query_id"),
      transform(col("embedding"),
        x => round(x.cast("double") * 1000).cast("long")).as("q"))
      .withColumn("nrm", graft.functions.LongVectorDot.vecDot(col("q"), col("q")))
    val cents = centroids(spark, root)
    val probeW = Window.partitionBy("query_id")
      .orderBy(col("ccos").desc, col("cell"))
    val probed = q.crossJoin(broadcast(cents))
      .withColumn("ccos",
        graft.functions.LongVectorDot.vecDot(col("q"), col("qc")).cast("double")
          / sqrt((col("nrm") * col("nc")).cast("double")))
      .withColumn("crn", row_number().over(probeW))
      .filter(col("crn") <= nprobe)
      .select(col("query_id"), col("cell"), col("q").as("qq"),
        col("nrm").as("qn"))
    val posting = assignments(spark, root).select(
      col("cell"), col("vec_id").as("neighbor_id"),
      col("q").as("qb"), col("nrm").as("nb"))
    val rankW = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    probed.join(posting, "cell")
      .withColumn("cos",
        graft.functions.LongVectorDot.vecDot(col("qq"), col("qb")).cast("double")
          / sqrt((col("qn") * col("nb")).cast("double")))
      // a query may probe two cells that share a vector only if cells
      // were duplicated — they are disjoint by construction, so no
      // dedup is needed before ranking
      .withColumn("rn", row_number().over(rankW))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("cell"), col("neighbor_id"),
        round(col("cos"), 6).as("cosine"), col("rn"))
  }

  /** [[query]] at SEVERAL nprobe tiers from ONE posting scan (r15,
    * guide §2.4 — q_probe_served ran three `query` calls whose plans
    * each re-scanned the posting parquet and re-ran the broadcast
    * centroid argmax). The candidate set at tier np is EXACTLY the
    * crn ≤ np prefix of the max-tier probe, so: probe once at
    * max(tiers) keeping the probe rank, join the posting lists once,
    * explode the |tiers| constant, filter crn ≤ np, and rank per
    * (query_id, np) — row-exact vs a per-tier [[query]] call
    * (Round15OptSpec pins it; same (cos DESC, neighbor_id) total
    * order, same rounding applied after ranking). Output adds the `np`
    * column; candidate rows triple only AFTER the corpus-side work.
    */
  def queryTiers(spark: SparkSession, root: String, queries: DataFrame,
      tiers: Seq[Int], k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(tiers.nonEmpty && tiers.forall(_ >= 1))
    // a repeated tier would put copies of its candidates into one
    // (query_id, np) rank partition and corrupt that tier's top-k
    require(tiers.distinct == tiers,
      s"queryTiers: duplicate tiers in ${tiers.mkString(",")}")
    val maxNp = tiers.max
    val q = queries.select(col("query_id"),
      transform(col("embedding"),
        x => round(x.cast("double") * 1000).cast("long")).as("q"))
      .withColumn("nrm", graft.functions.LongVectorDot.vecDot(col("q"), col("q")))
    val cents = centroids(spark, root)
    val probeW = Window.partitionBy("query_id")
      .orderBy(col("ccos").desc, col("cell"))
    val probed = q.crossJoin(broadcast(cents))
      .withColumn("ccos",
        graft.functions.LongVectorDot.vecDot(col("q"), col("qc")).cast("double")
          / sqrt((col("nrm") * col("nc")).cast("double")))
      .withColumn("crn", row_number().over(probeW))
      .filter(col("crn") <= maxNp)
      .select(col("query_id"), col("cell"), col("crn"),
        col("q").as("qq"), col("nrm").as("qn"))
    val posting = assignments(spark, root).select(
      col("cell"), col("vec_id").as("neighbor_id"),
      col("q").as("qb"), col("nrm").as("nb"))
    val rankW = Window.partitionBy("query_id", "np")
      .orderBy(col("cos").desc, col("neighbor_id"))
    probed.join(posting, "cell")
      .withColumn("cos",
        graft.functions.LongVectorDot.vecDot(col("qq"), col("qb")).cast("double")
          / sqrt((col("qn") * col("nb")).cast("double")))
      .withColumn("np", explode(typedLit(tiers)))
      .filter(col("crn") <= col("np"))
      .withColumn("rn", row_number().over(rankW))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("np"), col("cell"), col("neighbor_id"),
        round(col("cos"), 6).as("cosine"), col("rn"))
  }

  /** INCREMENTAL index update — the production shape for a growing
    * corpus: assign a batch of NEW vectors against the FROZEN coarse
    * centroids (the IVF contract: the book only changes on a full
    * re-train, which [[write]] is), append their posting-list rows and
    * packed codes, and bump the meta row-count so [[ensure]] keeps
    * validating against the corpus snapshot. Cost is one pass over the
    * BATCH (|batch|·K argmax + |batch| encodes), never the corpus —
    * vs [[write]]'s full-corpus rebuild. Cell populations drift as the
    * corpus grows away from the frozen book; `q_kmeans_shift` /
    * `q_cell_purity` are the re-train triggers an operator watches.
    *
    * `newVectors`: (vec_id, embedding) with ids DISJOINT from the
    * indexed ones AND unique within the batch (both enforced — a
    * duplicate id either way would double posting-list entries and
    * break the spec'd append == full-rebuild contract). The quantized
    * batch is cached for the duration (it is read by the dup checks,
    * the assignment, and the encode — one materialization, not three
    * scans), and `meta` is written LAST, only after the appended
    * artifact row counts verify — a crash mid-append leaves the old
    * meta in place, so the partial append reads as stale (row-count
    * mismatch) instead of silently serving extra posting rows.
    * `corpusFp` is preserved: it fingerprints the BUILT corpus
    * snapshot; appended batches live ahead of it by design. */
  def append(spark: SparkSession, corpusDir: String, root: String,
      newVectors: DataFrame): IndexMeta = {
    import spark.implicits._
    val meta = readMeta(spark, root).getOrElse(throw new IllegalStateException(
      s"AnnIndex: cannot append to $root — no readable index meta"))
    require(meta.formatVersion == FormatVersion,
      s"AnnIndex: $root is format v${meta.formatVersion}")
    val cents = centroids(spark, root)
    val q = newVectors.select(col("vec_id"),
      transform(col("embedding"),
        x => round(x.cast("double") * 1000).cast("long")).as("q"))
      .withColumn("nrm", graft.functions.LongVectorDot.vecDot(col("q"), col("q")))
      .cache()
    try {
      val batchN = q.count()
      val distinctN = q.select(col("vec_id")).distinct().count()
      require(distinctN == batchN,
        s"AnnIndex: the new batch repeats ${batchN - distinctN} vec_id(s) " +
          "within itself — an intra-batch duplicate would double-write " +
          "posting and code rows")
      // dup check against the RAW rows: a tombstoned id still occupies
      // its posting row, so re-appending it would double-write — it
      // must be vacuumed before its id can return
      val dup = q.select(col("vec_id"))
        .join(spark.read.parquet(p(root, "assignments"))
          .select(col("vec_id")), "vec_id").count()
      require(dup == 0, s"AnnIndex: $dup of the new vec_ids are already indexed")
      // frozen-book assignment: same argmax/tiebreak as the full build
      val w = org.apache.spark.sql.expressions.Window.partitionBy("vec_id")
        .orderBy(col("ccos").desc, col("cell"))
      val assigned = q.crossJoin(broadcast(cents))
        .withColumn("ccos", graft.functions.LongVectorDot.vecDot(col("q"), col("qc"))
          .cast("double") / sqrt((col("nrm") * col("nc")).cast("double")))
        .withColumn("crn", row_number().over(w))
        .filter(col("crn") === 1)
        .select(col("vec_id"), col("cell"), col("q"), col("nrm"), col("ccos"))
      assigned.write.mode("append").parquet(p(root, "assignments"))
      // encode the batch against the persisted codebook (ADC parity with
      // the build path: same first-minimum tie rule)
      val book = readCodebook(spark, root, meta)
      Similarity.pqEncode(q.select(col("vec_id"), col("q")), book,
          meta.dim / meta.pqM)
        .join(assigned.select(col("vec_id"), col("cell")), "vec_id")
        .select(col("vec_id"), col("cell"), col("code"))
        .write.mode("append").parquet(p(root, "codes"))
      // meta is the COMMIT record: verify the appended artifacts first
      val nAsg = spark.read.parquet(p(root, "assignments")).count()
      val nCodes = spark.read.parquet(p(root, "codes")).count()
      require(nAsg == meta.nVectors + batchN && nCodes == meta.nVectors + batchN,
        s"AnnIndex: post-append artifact counts ($nAsg assignments, " +
          s"$nCodes codes) do not match ${meta.nVectors} + $batchN — " +
          "refusing to commit meta over a torn append")
      val newMeta = meta.copy(nVectors = meta.nVectors + batchN)
      Seq(newMeta).toDS().toDF().coalesce(1)
        .write.mode("overwrite").parquet(p(root, "meta"))
      newMeta
    } finally q.unpersist()
  }

  /** TOMBSTONE delete — the third leg of the index lifecycle
    * (build / append / delete): mark vectors dead WITHOUT rewriting the
    * per-vector artifacts. The tombstone set is a parquet list of
    * vec_ids; every serve path anti-joins it (see [[assignments]]), so
    * served results — including cell populations and the hot-cell
    * cap — equal an index rebuilt without the deleted rows (spec'd in
    * `IndexServeSpec`). Cost is O(|batch|): one membership check
    * against the raw posting ids plus one small parquet append; the
    * posting lists and codes are untouched until [[vacuum]] reclaims
    * them. Idempotent: already-tombstoned ids are skipped, and the
    * returned count is the number NEWLY deleted. Unknown ids are
    * refused — a delete that silently no-ops is how a
    * right-to-be-forgotten pipeline loses track of what it actually
    * removed. Meta is NOT touched: `nVectors` stays the raw row count
    * (what [[append]]'s torn-write verification counts); the live
    * count is raw minus tombstones until vacuum folds it in. */
  def delete(spark: SparkSession, root: String, vecIds: DataFrame): Long = {
    val meta = readMeta(spark, root).getOrElse(throw new IllegalStateException(
      s"AnnIndex: cannot delete from $root — no readable index meta"))
    require(meta.formatVersion == FormatVersion,
      s"AnnIndex: $root is format v${meta.formatVersion}")
    val ids = vecIds.select(col("vec_id").cast("long")).distinct().cache()
    try {
      val n = ids.count()
      val known = ids.join(spark.read.parquet(p(root, "assignments"))
        .select(col("vec_id")), "vec_id").count()
      require(known == n,
        s"AnnIndex: ${n - known} of the ids to delete are not in the index " +
          "— refusing a partial delete (the caller's bookkeeping would drift)")
      val fresh = tombstones(spark, root) match {
        case Some(t) => ids.join(t, Seq("vec_id"), "left_anti")
        case None => ids
      }
      val freshN = fresh.count()
      if (freshN > 0)
        fresh.write.mode("append").parquet(p(root, "tombstones"))
      freshN
    } finally ids.unpersist()
  }

  /** Reclaim tombstoned rows: rewrite assignments and codes WITHOUT
    * the dead vectors, fold the live count into meta, and drop the
    * tombstone set. The rewrite goes through a sibling directory and a
    * filesystem rename (parquet cannot overwrite a directory it is
    * reading), and meta — the commit record, as in [[append]] — is
    * written only after both renamed artifacts count out exactly; a
    * crash mid-vacuum therefore leaves either the old layout (renames
    * not yet done) or a row-count mismatch that [[ensure]] reads as
    * stale and rebuilds. No-op (same meta back) when nothing is
    * tombstoned. After vacuum, a previously deleted id may be
    * re-[[append]]ed — its posting row is physically gone.
    *
    * Note the [[ensure]] interaction: vacuum shrinks `nVectors` below
    * the ORIGINAL corpus row count, so ensure() against the unshrunk
    * corpus dir will read the index as stale and rebuild it (and
    * resurrect the deleted vectors). Delete/vacuum serve the corpus
    * that is itself shrinking — run them when the corpus snapshot
    * drops the same rows. */
  def vacuum(spark: SparkSession, root: String): IndexMeta = {
    import spark.implicits._
    val meta = readMeta(spark, root).getOrElse(throw new IllegalStateException(
      s"AnnIndex: cannot vacuum $root — no readable index meta"))
    require(meta.formatVersion == FormatVersion,
      s"AnnIndex: $root is format v${meta.formatVersion}")
    val tomb = tombstones(spark, root)
    if (tomb.isEmpty) return meta
    val t = tomb.get.cache()
    try {
      val dead = t.count()
      if (dead == 0) return meta
      val hconf = spark.sparkContext.hadoopConfiguration
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(hconf)
      def swap(part: String): Unit = {
        val live = spark.read.parquet(p(root, part))
          .join(t, Seq("vec_id"), "left_anti")
        live.write.mode("overwrite").parquet(p(root, part + ".compact"))
        val cur = new org.apache.hadoop.fs.Path(p(root, part))
        val next = new org.apache.hadoop.fs.Path(p(root, part + ".compact"))
        fs.delete(cur, true)
        require(fs.rename(next, cur),
          s"AnnIndex: vacuum rename failed for $part at $root")
      }
      swap("assignments")
      swap("codes")
      val nAsg = spark.read.parquet(p(root, "assignments")).count()
      val nCodes = spark.read.parquet(p(root, "codes")).count()
      val liveN = meta.nVectors - dead
      require(nAsg == liveN && nCodes == liveN,
        s"AnnIndex: post-vacuum counts ($nAsg assignments, $nCodes codes) " +
          s"do not match ${meta.nVectors} − $dead — refusing to commit meta")
      val newMeta = meta.copy(nVectors = liveN)
      Seq(newMeta).toDS().toDF().coalesce(1)
        .write.mode("overwrite").parquet(p(root, "meta"))
      fs.delete(new org.apache.hadoop.fs.Path(p(root, "tombstones")), true)
      newMeta
    } finally t.unpersist()
  }

  /** Default per-corpus index location (scratch space — a deployment
    * points `root` at its lake instead). */
  def defaultRoot(corpusDir: String): String =
    sys.props("java.io.tmpdir").stripSuffix("/") + "/graft_ann_index/" +
      corpusDir.replaceAll("[^A-Za-z0-9._-]", "_")

  private val ensuring = new ConcurrentHashMap[String, AnyRef]()

  /** The deployment contract: return a root holding a VALID index for
    * `corpusDir`, building only when the existing one is missing or
    * stale (version/corpus/row-count/content-fingerprint mismatch). An
    * index claiming a NEWER format than this build is a hard error,
    * never clobbered. Serialized per root within the JVM; cross-process
    * races resolve to the same content (the build is deterministic),
    * matching the reference's idempotent-reload story. Uses the NAIVE
    * book (the grade whose results are oracle-identical to q_ann_ivf);
    * a corpus the naive seed cannot cover propagates [[write]]'s
    * refusal — deploy such corpora through [[writeTrained]]. */
  def ensure(spark: SparkSession, corpusDir: String,
      root0: String = null): String = {
    val root = Option(root0).getOrElse(defaultRoot(corpusDir))
    val lock = ensuring.computeIfAbsent(root, _ => new AnyRef)
    lock.synchronized {
      readMeta(spark, root) match {
        case Some(m) if m.formatVersion > FormatVersion =>
          throw new IllegalStateException(
            s"AnnIndex: $root is format v${m.formatVersion} (newer than " +
              s"v$FormatVersion) — refusing to overwrite")
        case Some(m) if m.formatVersion == FormatVersion &&
            m.corpusDir == corpusDir &&
            m.nVectors == Similarity.indexGeometry(spark, corpusDir)._5 &&
            m.corpusFp == Similarity.corpusFingerprint(spark, corpusDir) =>
          () // valid — serve as-is
        case _ => write(spark, corpusDir, root)
      }
    }
    root
  }
}
