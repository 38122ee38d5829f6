package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Normalize

/** Relational building blocks mirroring the reference's publish/query
  * layer, expressed as declarative DataFrame transforms so Catalyst
  * keeps pushdown / join-reorder / AQE freedom.
  */
object Relational {

  /** Decode a code column through a small literal code book — the
    * reference's status_codes / airworthiness_classes / owner_types
    * decode (pipelines/publish.py:75-149, views at :156-198). Unknown
    * and NULL codes decode to NULL (the reference's LEFT JOIN
    * behavior) unless a `default` is supplied; `outCol` is appended
    * (or replaced in place), the other columns keep their order.
    *
    * The code book is a literal map expression looked up per row, not
    * a joined table: no lookup relation, no broadcast job, and the
    * fact side never moves. A missing key yields NULL with ANSI on or
    * off. Codes must be distinct — a join would have multiplied rows
    * on a duplicate, a map would silently keep one. */
  def decode(
      df: DataFrame,
      codeCol: String,
      mapping: Seq[(String, String)],
      outCol: String,
      default: Option[String] = None): DataFrame = {
    val dups = mapping.groupBy(_._1).collect { case (c, xs) if xs.size > 1 => c }
    require(dups.isEmpty,
      s"decode of $codeCol: duplicate codes ${dups.toSeq.sorted.mkString(", ")}")
    val book = typedLit(mapping.toMap)
    val descr = book(col(codeCol))
    df.withColumn(outCol, default.fold(descr)(d => coalesce(descr, lit(d))))
  }

  /** Normalized exact-key lookup + enrichment joins — hb.search()
    * (hangarbay/api.py:153-197). The key filter is applied before the
    * joins so Catalyst pushes it into the parquet scan; dims are
    * broadcast. */
  def keyLookup(
      df: DataFrame,
      keyCol: Column,
      key: String,
      dims: Seq[(DataFrame, Column)]): DataFrame = {
    val base = df.filter(Normalize.cleanText(keyCol) ===
      Normalize.cleanText(lit(key)))
    dims.foldLeft(base) { case (acc, (dim, cond)) =>
      acc.join(broadcast(dim), cond, "left")
    }
  }

  /** Multi-term case-insensitive substring search with optional
    * equality filters, ordering and limit — hb.fleet()
    * (hangarbay/api.py:200-271). Terms are OR'd LIKEs; at scale this
    * is a single scan with the disjunction evaluated in codegen. */
  def fleetSearch(
      df: DataFrame,
      searchCol: Column,
      terms: Seq[String],
      filters: Seq[Column] = Nil,
      orderBy: Seq[Column] = Nil,
      limit: Int = 0): DataFrame = {
    val like = terms
      .map(t => lower(searchCol).contains(lit(t.toLowerCase)))
      .reduceOption(_ || _)
      .getOrElse(lit(true)) // no terms -> unfiltered
    val filtered = filters.foldLeft(df.filter(like))(_ filter _)
    val ordered =
      if (orderBy.nonEmpty) filtered.orderBy(orderBy: _*) else filtered
    if (limit > 0) ordered.limit(limit) else ordered
  }

  /** Per-key roll-up: count + deterministic concatenated members +
    * any-flag — the reference's owners_summary
    * (pipelines/publish.py:58-67), including its "; " STRING_AGG
    * separator. STRING_AGG is re-expressed as
    * sort_array(collect_list(..)) so the result is order-independent
    * across partitions/retries — a deliberate divergence from the
    * reference's insertion-order concat (unordered STRING_AGG is
    * nondeterministic under distributed retries), and the whole agg
    * is a single hash-aggregate with map-side partials. */
  def groupSummary(
      df: DataFrame,
      key: String,
      memberCol: Column,
      flagCol: Column,
      sep: String = "; "): DataFrame =
    df.groupBy(col(key)).agg(
      count(lit(1)).as("member_count"),
      array_join(sort_array(collect_list(memberCol)), sep)
        .as("members_concat"),
      bool_or(flagCol).as("any_flag"))

  /** Snapshot-to-snapshot diff on a key: which rows were added,
    * removed or changed between two published snapshots, with the
    * list of changed columns. The reference's data model is dated
    * snapshot directories (pipelines/fetch.py:104-201); diffing
    * consecutive publishes is the registry-maintenance question users
    * ask after every `update`.
    *
    * Output: key columns + `change_type` ('added' | 'removed' |
    * 'changed') + `changed_cols` (comma-joined compared-column names,
    * '' for added/removed). Rows identical on every compared column
    * are dropped, so the result is change-sized, not snapshot-sized.
    *
    * Plan shape at scale: each side shuffles ONCE on the key into a
    * single sort-merge FULL OUTER join; every per-column comparison
    * is a null-safe `<=>` evaluated in codegen on the joined row.
    * Presence is tracked with marker columns, not key nullness, so
    * NULL key values diff correctly (they null-safe-join to each
    * other like any other key). */
  def snapshotDiff(
      a: DataFrame,
      b: DataFrame,
      keys: Seq[String],
      compareCols: Seq[String]): DataFrame = {
    require(keys.nonEmpty && compareCols.nonEmpty,
      "snapshotDiff needs at least one key and one compared column")
    def side(df: DataFrame, p: String) =
      df.select((keys ++ compareCols).map(c => col(c).as(p + c)): _*)
        .withColumn(p + "present", lit(true))
    val joined = side(a, "__a_").join(side(b, "__b_"),
      keys.map(k => col("__a_" + k) <=> col("__b_" + k)).reduce(_ && _),
      "full_outer")
    val differs = compareCols
      .map(c => !(col("__a_" + c) <=> col("__b_" + c)))
    val changedCols = array_compact(array(compareCols.map(c =>
      when(!(col("__a_" + c) <=> col("__b_" + c)), lit(c))): _*))
    val changeType = when(col("__a_present").isNull, lit("added"))
      .when(col("__b_present").isNull, lit("removed"))
      .when(differs.reduce(_ || _), lit("changed"))
    joined
      .withColumn("change_type", changeType)
      .filter(col("change_type").isNotNull)
      .withColumn("changed_cols",
        when(col("change_type") === "changed",
          array_join(changedCols, ",")).otherwise(lit("")))
      .select(keys.map(k =>
        coalesce(col("__a_" + k), col("__b_" + k)).as(k)) ++
        Seq(col("change_type"), col("changed_cols")): _*)
  }

  /** Apply a CDC changeset to a snapshot (MERGE / upsert semantics):
    * matched keys take the update's values, unmatched updates insert,
    * keys flagged in `deleteCol` drop — producing the NEXT snapshot
    * from the current one plus a changeset, without a table format's
    * MERGE (the parquet-snapshot world the reference lives in:
    * publish next to current, then swap).
    *
    * Inverse of [[snapshotDiff]]: applying a diff-shaped changeset to
    * snapshot A reproduces snapshot B exactly.
    *
    * Plan shape: ONE shuffle per side into a single FULL OUTER
    * sort-merge join on the key; per-column `coalesce(update, base)`
    * is codegen. Updates must carry the full row (not per-column
    * deltas) and at most one row per key. */
  def applyChangeset(
      base: DataFrame,
      changes: DataFrame,
      keys: Seq[String],
      cols: Seq[String],
      deleteCol: String = "is_delete"): DataFrame = {
    val b = base.select((keys ++ cols).map(c => col(c).as("__b_" + c)): _*)
    val c = changes.select((keys ++ cols).map(n =>
        col(n).as("__c_" + n)) :+ col(deleteCol).as("__del"): _*)
      .withColumn("__in_c", lit(true)) // marker: NULL keys upsert too
    val side = (n: String) => when(col("__in_c").isNotNull, col("__c_" + n))
      .otherwise(col("__b_" + n)).as(n)
    b.join(c, keys.map(k => col("__b_" + k) <=> col("__c_" + k))
        .reduce(_ && _), "full_outer")
      .filter(!coalesce(col("__del"), lit(false)))
      .select((keys ++ cols).map(side): _*)
  }

  /** Build a type-2 slowly-changing-dimension history from a stack of
    * dated snapshots: one row per (key, attribute-state) interval,
    * `valid_from` = the snapshot that introduced the state,
    * `valid_to` = the snapshot that replaced it (NULL = current).
    *
    * The complement of [[snapshotDiff]] over the reference's dated
    * snapshot model (fetch.py:104-201): diff answers "what changed
    * between two publishes", this answers "what was true when" across
    * ALL publishes — the registry-history question.
    *
    * Plan shape: ONE hash shuffle on the key serves both windows (the
    * change-detection lag and the interval-closing lead reuse the
    * same partitioning; Catalyst plans one Exchange + two sorts).
    * Attribute comparison is null-safe; a key's first snapshot row
    * always opens an interval. Keys deleted in a later snapshot keep
    * their last interval open — pair with [[snapshotDiff]] to detect
    * removals. Input must contain each key at most once per date. */
  def scdHistory(
      snapshots: DataFrame,
      keys: Seq[String],
      attrs: Seq[String],
      dateCol: String): DataFrame = {
    require(keys.nonEmpty && attrs.nonEmpty,
      "scdHistory needs at least one key and one tracked attribute")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(dateCol))
    val changed = attrs
      .map(a => !(col(a) <=> lag(col(a), 1).over(w)))
      .reduce(_ || _) || row_number().over(w) === 1
    snapshots
      .withColumn("__chg", changed)
      .filter(col("__chg"))
      .select((keys ++ attrs).map(col) :+ col(dateCol).as("valid_from"): _*)
      .withColumn("valid_to",
        lead(col("valid_from"), 1).over(
          Window.partitionBy(keys.map(col): _*).orderBy(col("valid_from"))))
  }
}
