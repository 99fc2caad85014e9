package graft.index

import graft.index.IndexBuild.IndexTables
import graft.ops.{IntervalJoin, OverlapMode}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

/** The reference's query commands re-expressed over the persisted index
  * tables: extract (ID lookup, extract.rs:37-162), search (attribute
  * front-end, search.rs:55-252), intersect (region query,
  * intersect.rs:541-655). Each is 2-3 broadcast/equi joins + the interval
  * kernel; roots flow as dense ids; missing names/attrs surface as a
  * separate "missing" output instead of the reference's u32::MAX sentinels.
  */
object GffOps {

  /** At most one live probe-plan cache entry per session (see intersect).
    * One map entry per session is the bound — Verify/Bench run a handful
    * of sessions per JVM, and unpersisting on replacement is what matters. */
  private val lastProbePlan =
    new java.util.concurrent.ConcurrentHashMap[org.apache.spark.sql.SparkSession, DataFrame]()

  /** extract: feature names -> fids (J3 broadcast-hash) -> roots (J4,
    * precomputed root_fid column) -> all rows of the matched groups,
    * file-ordered (S8/S9 sinks). `types` non-empty ≙ `-T` filtered output
    * (common.rs:289-465); empty ≙ whole-group blocks (common.rs:188-287).
    */
  def extract(t: IndexTables, names: DataFrame, types: Seq[String] = Nil): DataFrame = {
    val nm = names.select(trim(col(names.columns.head)).as("id"))
      .where(length(col("id")) > 0)
    val roots = t.features.join(broadcast(nm), Seq("id"), "left_semi")
    val rows = groupsOf(t, roots, broadcastRoots = true)
    val filtered = if (types.nonEmpty) rows.where(col("ftype").isin(types: _*)) else rows
    filtered.orderBy(col("line_no"))
  }

  /** Names absent from the index (reference warns + skips,
    * extract.rs:88-111).
    */
  def missingNames(t: IndexTables, names: DataFrame): DataFrame = {
    val nm = names.select(trim(col(names.columns.head)).as("id"))
      .where(length(col("id")) > 0).distinct()
    nm.join(t.features.select("id").where(col("id").isNotNull).distinct(),
      Seq("id"), "left_anti")
  }

  /** search --exact: attr values -> aids (M4 set membership over the
    * dictionary) -> fids (J5 inverted equi-join) -> group rows.
    */
  def searchExact(t: IndexTables, values: Seq[String], types: Seq[String] = Nil): DataFrame =
    searchByAids(t, t.attrDict.where(col("attr").isin(values: _*)), types)

  /** search --regex: any-of regexes over the attr dictionary (M3). Running
    * the regex on the DICTIONARY (small) instead of the fact table is the
    * reference's trick (search.rs:92-103) — dictionary size, not corpus
    * size, bounds the regex cost.
    */
  def searchRegex(t: IndexTables, patterns: Seq[String], types: Seq[String] = Nil): DataFrame = {
    val pred = patterns.map(p => col("attr").rlike(p)).reduce(_ || _)
    searchByAids(t, t.attrDict.where(pred), types)
  }

  private def searchByAids(t: IndexTables, aids: DataFrame, types: Seq[String]): DataFrame = {
    val roots = t.features.join(broadcast(aids.select("aid")), Seq("aid"), "left_semi")
    val rows = groupsOf(t, roots, broadcastRoots = true)
    val filtered = if (types.nonEmpty) rows.where(col("ftype").isin(types: _*)) else rows
    filtered.orderBy(col("line_no"))
  }

  /** Every row of the groups whose root appears in `roots`' `root_fid`,
    * `root_fid` first (the column order of the inner join on `root_fid`
    * this replaces). A semi join ignores duplicate keys on its build side,
    * so `roots` needs no distinct — and no dedup job or shuffle. */
  private def groupsOf(t: IndexTables, roots: DataFrame, broadcastRoots: Boolean): DataFrame = {
    val f = t.features
    val r = roots.select("root_fid")
    f.join(if (broadcastRoots) broadcast(r) else r, Seq("root_fid"), "left_semi")
      .select((col("root_fid") +: f.columns.filterNot(_ == "root_fid").map(col)): _*)
  }

  /** A1 — per-root bucketing of matched probes (intersect.rs:598-607,
    * coverage.rs:180-190): root_fid -> sorted list of probe ids + counts.
    */
  def matchesPerRoot(t: IndexTables, regions: DataFrame, mode: OverlapMode): DataFrame = {
    val probes = regions.select(col("probe_id"), col("entity_id").as("entity"),
      col("start"), col("end"))
    val ivs = t.intervals.select(col("entity_id").as("entity"), col("start"),
      col("end"), col("root_fid"))
    IntervalJoin.join(probes, ivs, mode)
      .groupBy(col("root_fid"))
      .agg(count(lit(1)).as("n_matches"),
        sort_array(collect_list(col("probe_id"))).as("probe_ids"))
  }

  /** intersect: probe regions against the root-interval table (J1), mode +
    * invert (P3/P4), then either matched groups' full rows ("entire-group",
    * intersect.rs:647-652) or per-feature re-checked rows ("match-only",
    * intersect.rs:232-438).
    *
    * Invert is candidate-level XOR, matching intersect.rs:137-164: the tree
    * probe yields OVERLAP candidates, and `invert ^ keep(mode)` decides per
    * candidate — so invert+Overlap yields nothing and invert+Contained
    * yields groups that overlap some probe without being contained in it
    * (NOT the global no-match complement; that is [[IntervalJoin.invert]]).
    *
    * A non-empty `types` filter forces the per-line re-check path, like the
    * reference's filtered output (intersect.rs:232-438, common.rs:289-465).
    */
  def intersect(t: IndexTables, regions: DataFrame, mode: OverlapMode,
      invert: Boolean = false, matchOnly: Boolean = false,
      types: Seq[String] = Nil): DataFrame = {
    val probes0 = regions.select(col("entity_id").as("entity"), col("start"), col("end"))
    // the match-only path references the probe side from BOTH interval
    // joins, and each join's auto-path decision may count it — up to four
    // evaluations of a COMPUTED regions plan (measured ~3 s/eval of q35's
    // 6.5 s warm wall clock). Persist such a plan once. A driver-local
    // plan (a LocalRelation) is not persisted: evaluating it is free, its
    // row bound lets both joins broadcast it without a count, and it
    // collects without a job — persisting would turn it into an
    // InMemoryRelation with no row bound, costing fill and collect jobs.
    // The matches of a driver-local region list are broadcast into the
    // group semi join (the few groups a handful of regions hit); a computed
    // plan's matches are unbounded and left to AQE's join choice.
    // NOTE (ADVICE r4): Dataset.persist registers the plan in the session
    // CacheManager, which holds a strong reference until an explicit
    // unpersist/clearCache — the ContextCleaner only reclaims GC'd RDDs,
    // and the entry can't be unpersisted here (the returned plan is lazy).
    // BOUNDED instead of leaked: each session keeps at most ONE live
    // probe-plan cache entry — persisting a new one unpersists the
    // previous (an earlier returned plan that re-executes afterwards just
    // recomputes, it does not break). A session-wide clearCache() here
    // would be wrong: it also evicts the SHARED index-table caches that
    // q32-q51 amortize one build across (measured: q51 4.9 s → 83 s in
    // the round-5 dress sweeps that cleared between queries).
    val local = probes0.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]
    val probes =
      if (!invert && (matchOnly || types.nonEmpty) && !local) {
        val p = probes0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val prev = lastProbePlan.put(probes0.sparkSession, p)
        if (prev != null && (prev ne p))
          try prev.unpersist(false) catch { case _: Throwable => () }
        // ADVICE r5 (low): entries for STOPPED sessions were pinned
        // forever (no removal path). Purge them here — the map is only
        // touched on this path, so the sweep is O(live sessions).
        val it = lastProbePlan.entrySet().iterator()
        while (it.hasNext) {
          val en = it.next()
          if (en.getKey.sparkContext.isStopped) it.remove()
        }
        p
      } else probes0
    val ivs = t.intervals.select(col("entity_id").as("entity"), col("start"),
      col("end"), col("root_fid"))
    if (invert) {
      // overlap candidates, kept iff the mode predicate FAILS (invert ^ keep)
      val keep = IntervalJoin.join(probes, ivs, graft.ops.Overlap)
        .where(!IntervalJoin.predicate(mode))
      groupsOf(t, keep, broadcastRoots = local).orderBy(col("line_no"))
    } else {
      val hits = IntervalJoin.join(probes, ivs, mode)
      // type filter applied BEFORE the re-check join and its fid-dedup
      // shuffle (ftype is functionally dependent on fid, so filtering
      // commutes with the dedup; it cut q35's re-check pair volume ~30x)
      val rows0 = groupsOf(t, hits, broadcastRoots = local)
      val rows = if (types.nonEmpty) rows0.where(col("ftype").isin(types: _*)) else rows0
      val out0 = if (matchOnly || types.nonEmpty) {
        // re-check each line with the SELECTED mode (intersect.rs:500-517,
        // re-check confined to matched blocks) — routed through the
        // interval-join kernel as a SECOND interval join of the matched
        // groups' lines against the probes. Round 3 shipped this as an
        // entity-only equi-join x line predicate: per-entity
        // |rows| x |probes| pair work, the one quadratic path left in the
        // codebase — a scale-killer at BED-scale probe sets (millions of
        // regions on one chromosome). The kernel's auto path broadcasts a
        // small probe side and bins otherwise, and the predicate mapping
        // is identical: feature (start,end) = f_*, probe = p_*.
        val lineIvs = rows.withColumnRenamed("entity_id", "entity")
        IntervalJoin.join(probes, lineIvs, mode)
          .select(rows.columns.map {
            case "entity_id" => col("entity").as("entity_id")
            case "start"     => col("f_start").as("start")
            case "end"       => col("f_end").as("end")
            case c           => col(c)
          }: _*).dropDuplicates("fid")
      } else rows
      out0.orderBy(col("line_no"))
    }
  }
}
