package graft.api

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions.{Expression, SpecifiedWindowFrame, UnspecifiedFrame, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types._

/** How colliding non-key columns are treated by [[DataTable.innerJoin]].
  *
  * Mirrors the reference's `CommonColumnMerge`
  * (`/root/reference/src/datamancer/dataframe.nim:1857-1883`): `ccRename`
  * (default) suffixes `_left` / `_right`, `ccLeft` keeps the left side's
  * column, `ccDrop` drops the column from both sides.
  */
sealed trait CommonColumnMerge
case object CcRename extends CommonColumnMerge
case object CcLeft extends CommonColumnMerge
case object CcDrop extends CommonColumnMerge

/** How [[DataTable.summarize]] expands the group keys. [[FlatGrouping]] is
  * the reference's semantics (one row per distinct key tuple); [[RollupGrouping]]
  * / [[CubeGrouping]] additionally emit the hierarchical / all-subset
  * grand-total rows (SQL `GROUP BY ROLLUP/CUBE`), and
  * [[GroupingSetsGrouping]] aggregates at exactly the named subsets —
  * the shape a per-source quality dashboard wants, computed in ONE pass
  * with partial aggregation instead of unioning per-level scans.
  * Beyond-reference extensions. */
sealed trait GroupingMode
case object FlatGrouping extends GroupingMode
case object RollupGrouping extends GroupingMode
case object CubeGrouping extends GroupingMode
/** Explicit `GROUP BY GROUPING SETS`: exactly the named key subsets, for
  * shapes rollup/cube can't express (e.g. by-source AND by-language
  * marginals with no (source, language) detail level). Still ONE
  * Expand + partial-aggregate pass. `sets` are subsets of the group keys. */
final case class GroupingSetsGrouping(sets: Seq[Seq[String]]) extends GroupingMode

/** dplyr-style verb layer over a Spark `DataFrame`.
  *
  * Re-expresses the verb surface of SciNim/Datamancer
  * (`/root/reference/src/datamancer/dataframe.nim`) Spark-first: every verb
  * compiles to the public DataFrame API, so Catalyst provides planning,
  * pushdown, pruning and distribution — none of which exist in the reference
  * (eager, single-node, fully materialized per verb; SURVEY.md §3).
  *
  * Grouping is lazy metadata, like the reference's `dfGrouped`
  * (`dataframe.nim:2007-2035`): [[groupBy]] only records key names; downstream
  * verbs dispatch on them. Aggregates appearing inside [[mutate]] /
  * [[filter]] expressions on a grouped table are rewritten to window
  * functions over the group keys, mirroring the reference's per-group
  * closure evaluation (`dataframe.nim:1708-1722`, `1373-1385`) without a
  * per-group loop — one shuffle, fully distributed.
  *
  * All verbs are shuffle-conscious: nothing here collects to the driver, and
  * verbs that need a row order take it explicitly (Spark has no physical row
  * order; SURVEY.md §7.5 risk 5).
  */
final case class DataTable(df: DataFrame, groupKeys: Seq[String] = Nil,
                           groupMode: GroupingMode = FlatGrouping) {

  import DataTable._

  def columns: Seq[String] = df.columns.toSeq
  def isGrouped: Boolean = groupKeys.nonEmpty

  private def withDf(d: DataFrame): DataTable = copy(df = d)

  /** Wrap naked aggregate calls in `c` with a window over the group keys.
    * This is the Spark analogue of the reference's loop-invariant lifting of
    * whole-column subexpressions (`formulaExp.nim:438-485`): `x - mean(x)`
    * on a GROUPED table becomes `x - avg(x) OVER (PARTITION BY keys)`.
    * Ungrouped whole-column reduces take [[broadcastLift]] instead — an
    * empty-partition window would funnel the whole table through one task. */
  private def windowize(c: Column): Column = {
    val spec = WindowSpecDefinition(
      groupKeys.map(k => UnresolvedAttribute.quoted(k)), Nil, UnspecifiedFrame)
    def wrap(e: Expression): Expression = e match {
      case w: WindowExpression => w
      case f: UnresolvedFunction if AggFunctionNames(f.nameParts.last.toLowerCase) =>
        WindowExpression(f, spec)
      case other => other.mapChildren(wrap)
    }
    Shim.toColumn(wrap(Shim.toExpression(c)))
  }

  /** Replace naked aggregate calls in `e` with references to helper
    * columns, recording each lifted aggregate in `acc` (structurally
    * identical aggregates share one slot). */
  private def liftAggs(e: Expression,
      acc: scala.collection.mutable.LinkedHashMap[String, Expression]): Expression =
    e match {
      case w: WindowExpression => w
      case f: UnresolvedFunction if AggFunctionNames(f.nameParts.last.toLowerCase) =>
        val name = acc.collectFirst { case (n, e2) if e2 == f => n }.getOrElse {
          val n = s"$LiftColPrefix${acc.size}"; acc += n -> f; n
        }
        UnresolvedAttribute.quoted(name)
      case other => other.mapChildren(liftAggs(_, acc))
    }

  /** Whole-column reduces on an UNGROUPED table (`x >= max(x)*0.5`,
    * testDf.nim:928-934): aggregate the lifted scalars ONCE, broadcast the
    * 1-row result into every partition (BroadcastNestedLoopJoin of a 1-row
    * relation — scan-parallel, no shuffle), and reference the scalars.
    * The scale-safe twin of the grouped window rewrite; returns the input
    * unchanged when `cs` contains no naked aggregates. */
  private def broadcastLift(d: DataFrame, cs: Seq[Column])
      : (DataFrame, Seq[Column], Seq[String]) = {
    val acc = scala.collection.mutable.LinkedHashMap[String, Expression]()
    val rewritten = cs.map(c => liftAggs(Shim.toExpression(c), acc))
    if (acc.isEmpty) (d, cs, Nil)
    else {
      val aggCols = acc.map { case (n, e) => Shim.toColumn(e).as(n) }.toSeq
      val scalars = d.agg(aggCols.head, aggCols.tail: _*)
      (d.crossJoin(broadcast(scalars)), rewritten.map(Shim.toColumn), acc.keys.toSeq)
    }
  }

  // ---------------------------------------------------------------- selects

  /** Keep exactly `cols`, in the given order (`dataframe.nim:1403-1443`).
    * Raises if a group key would be dropped, like the reference. */
  def select(cols: String*): DataTable = {
    val missingKeys = groupKeys.filterNot(cols.contains)
    require(missingKeys.isEmpty,
      s"select would drop group keys: ${missingKeys.mkString(", ")}")
    withDf(df.select(cols.map(col): _*))
  }

  /** select with arbitrary column expressions (rename via `.as`). */
  def selectCols(cols: Column*): DataTable = withDf(df.select(cols: _*))

  /** Drop columns (`dataframe.nim:876-884`). */
  def drop(cols: String*): DataTable = withDf(df.drop(cols: _*))

  /** Rename columns, `newName -> oldName` pairs (reference `rename` takes
    * `f{"new" <- "old"}` formulas, `dataframe.nim:1821-1847`). */
  def rename(pairs: (String, String)*): DataTable =
    withDf(pairs.foldLeft(df) { case (d, (nw, old)) => d.withColumnRenamed(old, nw) })

  /** Move `which` right after `after` (`relocate`, `dataframe.nim:1476-1527`). */
  def relocateAfter(which: String, after: String): DataTable = {
    val rest = df.columns.filterNot(_ == which)
    val i = rest.indexOf(after)
    require(i >= 0, s"no such column: $after")
    val (pre, post) = rest.splitAt(i + 1)
    withDf(df.select((pre ++ Array(which) ++ post).map(col).toIndexedSeq: _*))
  }

  /** Move `which` right before `before`. */
  def relocateBefore(which: String, before: String): DataTable = {
    val rest = df.columns.filterNot(_ == which)
    val i = rest.indexOf(before)
    require(i >= 0, s"no such column: $before")
    val (pre, post) = rest.splitAt(i)
    withDf(df.select((pre ++ Array(which) ++ post).map(col).toIndexedSeq: _*))
  }

  // ---------------------------------------------------------------- mutate

  /** Add or overwrite computed columns (`mutate`, `dataframe.nim:1674-1767`).
    * On a grouped table, aggregate subexpressions evaluate per group (window
    * rewrite — no per-group materialization, unlike the reference). */
  def mutate(pairs: (String, Column)*): DataTable =
    if (isGrouped)
      withDf(pairs.foldLeft(df) { case (d, (name, c)) => d.withColumn(name, windowize(c)) })
    else if (!pairsChain(pairs))
      // No pair references an earlier pair's output: one broadcastLift for
      // all pairs — k aggregate-bearing columns cost ONE scalar aggregation
      // and one broadcast, not k full-table passes.
      withDf {
        val (joined, rewritten, helpers) = broadcastLift(df, pairs.map(_._2))
        pairs.map(_._1).zip(rewritten)
          .foldLeft(joined) { case (d, (name, c)) => d.withColumn(name, c) }
          .drop(helpers: _*)
      }
    else
      // Sequential per-pair lift so later pairs can reference columns the
      // earlier pairs computed, matching the grouped fold's semantics.
      withDf(pairs.foldLeft(df) { case (d, (name, c)) =>
        val (joined, rewritten, helpers) = broadcastLift(d, Seq(c))
        joined.withColumn(name, rewritten.head).drop(helpers: _*)
      })

  /** Does any pair's expression reference a column computed by an EARLIER
    * pair (by output name)? Decides whether mutate can batch the lift. */
  private def pairsChain(pairs: Seq[(String, Column)]): Boolean = {
    def refs(e: Expression, names: Set[String]): Boolean = e match {
      case a: UnresolvedAttribute => names(a.nameParts.last)
      case other => other.children.exists(refs(_, names))
    }
    pairs.zipWithIndex.exists { case ((_, c), i) =>
      val earlier = pairs.take(i).map(_._1).toSet
      earlier.nonEmpty && refs(Shim.toExpression(c), earlier)
    }
  }

  /** mutate, keeping only the group keys and the computed columns
    * (`transmute`, `dataframe.nim:1777-1819`). */
  def transmute(pairs: (String, Column)*): DataTable =
    if (isGrouped) {
      val keyCols = groupKeys.map(col)
      withDf(df.select(keyCols ++ pairs.map { case (n, c) => windowize(c).as(n) }: _*))
    } else {
      val (joined, rewritten, _) = broadcastLift(df, pairs.map(_._2))
      withDf(joined.select(
        pairs.map(_._1).zip(rewritten).map { case (n, c) => c.as(n) }: _*))
    }

  /** mutate with reference-style auto-generated lisp names
    * (`formulaNameMacro.nim:92-95`): `mutateAuto(-lit(1.0) * col("hwy"))`
    * adds a column named `"(* -1.0 hwy)"`. */
  def mutateAuto(cs: Column*): DataTable =
    mutate(cs.map(c => FormulaName.lispName(c) -> c): _*)

  /** transmute with auto-generated lisp names. */
  def transmuteAuto(cs: Column*): DataTable =
    transmute(cs.map(c => FormulaName.lispName(c) -> c): _*)

  /** Masked update: `df[cond, key] = value` (`dataframe.nim:344-370`). */
  def maskedUpdate(cond: Column, key: String, value: Column): DataTable =
    withDf(df.withColumn(key, when(cond, value).otherwise(col(key))))

  // ---------------------------------------------------------------- filter

  /** AND of boolean conditions (`filter`, `dataframe.nim:1280-1385`). On a
    * grouped table a condition containing aggregates keeps/drops whole
    * groups, matching the reference's per-subgroup evaluation. */
  def filter(conds: Column*): DataTable = {
    val lifted =
      if (isGrouped) None
      else {
        // Ungrouped whole-column reduce: scalar aggregate + broadcast, not
        // an empty-partition window.
        val (joined, rewritten, helpers) = broadcastLift(df, Seq(conds.reduce(_ && _)))
        if (helpers.isEmpty) None
        else {
          // the condition may ALSO carry an explicit user window (not
          // allowed in WHERE): project it to a helper column first
          def hasWin(e: Expression): Boolean = e match {
            case _: WindowExpression => true
            case other => other.children.exists(hasWin)
          }
          val c = rewritten.head
          val filtered =
            if (!hasWin(Shim.toExpression(c))) joined.filter(c)
            else {
              val h = "__graft_cond"
              joined.withColumn(h, c).filter(col(h)).drop(h)
            }
          Some(withDf(filtered.drop(helpers: _*)))
        }
      }
    lifted.getOrElse {
      val cond = conds.map(windowize).reduce(_ && _)
      def hasWindow(e: Expression): Boolean = e match {
        case _: WindowExpression => true
        case other => other.children.exists(hasWindow)
      }
      if (!hasWindow(Shim.toExpression(cond))) withDf(df.filter(cond))
      else {
        // Window functions are not allowed in WHERE: project the windowed
        // condition, filter on it, drop the helper column. Plain predicates
        // keep the direct Dataset.filter path (preserves parquet pushdown
        // AND Spark's resolution of columns from the projection's child).
        val c = "__graft_cond"
        withDf(df.withColumn(c, cond).filter(col(c)).drop(c))
      }
    }
  }

  /** Filter to explicit row indices under an explicit order
    * (`filterToIdx`, `dataframe.nim:1299-1319`; test-kit grade — the
    * global ordering window funnels through one partition). */
  def filterToIdx(idxs: Seq[Int], order: Seq[Column]): DataTable = {
    val w = Window.orderBy(order: _*)
    withDf(df.withColumn(RowNumCol, row_number().over(w) - 1)
      .filter(col(RowNumCol).isin(idxs: _*)).drop(RowNumCol))
  }

  /** Drop rows with SQL nulls in `cols` (all columns if empty)
    * (`drop_null`, `dataframe.nim:2424-2465`). */
  def dropNull(cols: String*): DataTable =
    withDf(if (cols.isEmpty) df.na.drop() else df.na.drop(cols))

  /** Drop rows with NaNs in the given (or all) floating-point columns
    * (`dropNaN`, `dataframe.nim:2467-2493`). */
  def dropNaN(cols: String*): DataTable = {
    val floatCols =
      (if (cols.nonEmpty) cols
       else df.schema.fields.collect {
         case f if f.dataType == DoubleType || f.dataType == FloatType => f.name
       }.toSeq)
    if (floatCols.isEmpty) this
    else withDf(df.filter(floatCols.map(c => !isnan(col(c))).reduce(_ && _)))
  }

  // ---------------------------------------------------------------- arrange

  /** Multi-key sort, ascending (`arrange`, `dataframe.nim:1529-1657`). The
    * reference applies one global order to all keys; per-key direction is
    * available via [[arrangeBy]]. */
  def arrange(keys: String*): DataTable = withDf(df.orderBy(keys.map(col): _*))

  /** Multi-key sort, descending. */
  def arrangeDesc(keys: String*): DataTable =
    withDf(df.orderBy(keys.map(k => col(k).desc): _*))

  /** Sort by arbitrary sort expressions (per-key direction upgrade). */
  def arrangeBy(cols: Column*): DataTable = withDf(df.orderBy(cols: _*))

  /** First n rows (`head`, `dataframe.nim:2197-2203`). After [[arrange]],
    * Catalyst plans TakeOrderedAndProject — a true distributed top-k. */
  def head(n: Int): DataTable = withDf(df.limit(n))

  /** Last n rows under an explicit ordering. The reference's `tail` uses
    * physical row order, which doesn't exist distributed; callers supply
    * the order and we take the top-k of its reverse. */
  def tailBy(n: Int, order: Column*): DataTable =
    withDf(df.orderBy(order.map(_.desc): _*).limit(n))

  /** Row slice `df[a..b]` (inclusive, 0-based) under an explicit order
    * (`dataframe.nim:153-262`; physical row order doesn't exist
    * distributed). Plans as global sort + offset + limit. Test-kit grade. */
  def slice(start: Int, end: Int, order: Seq[Column]): DataTable =
    withDf(df.orderBy(order: _*).offset(start).limit(end - start + 1))

  /** Single row `df[i]` under an explicit order (test kit). */
  def rowAt(i: Int, order: Seq[Column]): Row =
    slice(i, i, order).df.head()

  // ---------------------------------------------------------------- groups

  /** Lazy grouping: records key names only, like the reference's `groupMap`
    * metadata (`group_by`, `dataframe.nim:2007-2035`). `add=true` extends an
    * existing grouping. */
  def groupBy(keys: String*): DataTable =
    copy(groupKeys = keys, groupMode = FlatGrouping)
  def groupByAdd(keys: String*): DataTable = copy(groupKeys = groupKeys ++ keys)
  def ungroup: DataTable = copy(groupKeys = Nil, groupMode = FlatGrouping)

  /** Hierarchical grouping: [[summarize]] emits one row per key tuple PLUS
    * per-prefix subtotal rows and a grand total (SQL `GROUP BY ROLLUP`),
    * all in one partial-aggregated pass. Keys of aggregated-away levels are
    * NULL; disambiguate with `grouping_id()` in the aggregate list. Only
    * [[summarize]]/[[countRows]] honor the mode — aggregate lifting inside
    * [[mutate]]/[[filter]] always treats the keys as a flat grouping. */
  def rollupBy(keys: String*): DataTable =
    copy(groupKeys = keys, groupMode = RollupGrouping)

  /** Like [[rollupBy]] but emits subtotals for EVERY key subset
    * (SQL `GROUP BY CUBE`). */
  def cubeBy(keys: String*): DataTable =
    copy(groupKeys = keys, groupMode = CubeGrouping)

  /** Explicit grouping sets (SQL `GROUP BY GROUPING SETS`): aggregate at
    * exactly the named key subsets — shapes rollup/cube can't express.
    * `keys` is the full key universe (column order of the result);
    * every set must draw from it. */
  def groupingSetsBy(sets: Seq[Seq[String]], keys: String*): DataTable = {
    val universe = keys.toSet
    require(sets.nonEmpty, "groupingSetsBy: need at least one set")
    sets.foreach(s => require(s.forall(universe),
      s"groupingSetsBy: set $s not within keys $keys"))
    copy(groupKeys = keys, groupMode = GroupingSetsGrouping(sets))
  }

  /** Reducing formulas → one row per group (ungrouped: one row total)
    * (`summarize`, `dataframe.nim:2037-2101`). Result is ordered by the
    * group keys ascending, matching the reference's sort-based `groups`
    * iterator (`dataframe.nim:1178-1240`); Spark's hash aggregate plus a
    * final sort is strictly cheaper than the reference's full sort. */
  def summarize(aggs: (String, Column)*): DataTable = {
    val aggCols = aggs.map { case (n, c) => c.as(n) }
    val out =
      if (groupKeys.isEmpty) df.agg(aggCols.head, aggCols.tail: _*)
      else {
        val grouped = groupMode match {
          case FlatGrouping => df.groupBy(groupKeys.map(col): _*)
          case RollupGrouping => df.rollup(groupKeys.map(col): _*)
          case CubeGrouping => df.cube(groupKeys.map(col): _*)
          case GroupingSetsGrouping(sets) =>
            df.groupingSets(sets.map(_.map(col)), groupKeys.map(col): _*)
        }
        grouped.agg(aggCols.head, aggCols.tail: _*)
          .orderBy(groupKeys.map(col): _*)
      }
    DataTable(out)
  }

  /** Group sizes (`count`, `dataframe.nim:2103-2138`). Honors the grouping
    * mode like [[summarize]]: under [[rollupBy]]/[[cubeBy]] the counts
    * include the subtotal and grand-total rows. */
  def countRows(cols: Seq[String], name: String = "n"): DataTable = {
    val grouped = groupMode match {
      case FlatGrouping => df.groupBy(cols.map(col): _*)
      case RollupGrouping => df.rollup(cols.map(col): _*)
      case CubeGrouping => df.cube(cols.map(col): _*)
      case GroupingSetsGrouping(sets) =>
        df.groupingSets(sets.map(_.map(col)), cols.map(col): _*)
    }
    DataTable(grouped.agg(count(lit(1)).as(name)).orderBy(cols.map(col): _*))
  }

  /** Distributed analogue of the reference's `groups` iterator
    * (`dataframe.nim:1178-1240`): apply `f(keyRow, rowsOfGroup)` to every
    * group, producing rows of `outSchema`. One shuffle on the group keys;
    * each group's iterator is processed entirely on one executor — custom
    * per-group logic without any driver involvement (the reference instead
    * sorts the whole frame and walks runs single-threaded). */
  def mapGroupsRows(outSchema: StructType)(
      f: (Row, Iterator[Row]) => Iterator[Row]): DataTable = {
    require(groupKeys.nonEmpty, "mapGroupsRows requires a grouped table")
    val keys = groupKeys
    val keySchema = StructType(keys.map(k => df.schema(k)))
    val keyEnc = Encoders.row(keySchema)
    val outEnc = Encoders.row(outSchema)
    DataTable(df.groupByKey(r => Row.fromSeq(keys.map(k => r.getAs[Any](k))))(keyEnc)
      .flatMapGroups((k: Row, it: Iterator[Row]) => f(k, it))(outEnc).toDF())
  }

  /** Driver-side `groups` iterator for the test kit: (keyValues, subTable)
    * per group, ascending key order like the reference (which sorts by
    * keys and yields runs, `dataframe.nim:1208-1240`). Collects only the
    * DISTINCT KEYS to the driver, not the data — but still one filter per
    * group: small-cardinality use only. */
  def groupsLocal: Seq[(Seq[(String, Any)], DataTable)] = {
    require(groupKeys.nonEmpty, "groupsLocal requires a grouped table")
    val keyRows = df.select(groupKeys.map(col): _*)
      .distinct().orderBy(groupKeys.map(col): _*).collect()
    keyRows.toSeq.map { kr =>
      val kvs = groupKeys.zipWithIndex.map { case (k, i) => k -> kr.get(i) }
      val cond = kvs.map { case (k, v) => col(k) <=> lit(v) }.reduce(_ && _)
      kvs -> DataTable(df.filter(cond))
    }
  }

  // ---------------------------------------------------------------- joins

  /** Single- or multi-key equi inner join (`innerJoin`,
    * `dataframe.nim:1885-1992`). We adopt standard SQL M×N duplicate-key
    * semantics (the reference's merge walk is a partial product — SURVEY.md
    * §7.5 risk 4, documented divergence). Colliding non-key columns are
    * handled per [[CommonColumnMerge]]. Catalyst picks broadcast vs
    * sort-merge; pass `broadcastRight=true` to force broadcasting a small
    * dimension side. */
  def innerJoin(other: DataTable, by: Seq[String],
                merge: CommonColumnMerge = CcRename,
                broadcastRight: Boolean = false): DataTable =
    join(other, by, "inner", merge, broadcastRight)

  /** General join; `how` ∈ inner/left/right/full/left_semi/left_anti —
    * beyond-reference (the reference only has inner). */
  def join(other: DataTable, by: Seq[String], how: String = "inner",
           merge: CommonColumnMerge = CcRename,
           broadcastRight: Boolean = false): DataTable = {
    val common = df.columns.toSet
      .intersect(other.df.columns.toSet)
      .diff(by.toSet).toSeq.sorted
    val (l, r) = merge match {
      case CcRename =>
        (common.foldLeft(df)((d, c) => d.withColumnRenamed(c, s"${c}_left")),
         common.foldLeft(other.df)((d, c) => d.withColumnRenamed(c, s"${c}_right")))
      case CcLeft => (df, other.df.drop(common: _*))
      case CcDrop => (df.drop(common: _*), other.df.drop(common: _*))
    }
    val rr = if (broadcastRight) broadcast(r) else r
    DataTable(l.join(rr, by, how))
  }

  /** Skew-safe inner join: the left side is salted into `saltBuckets`
    * sub-keys (deterministic hash of the whole left row), the right side
    * is replicated across all salt values, and the join runs on
    * (keys, salt) — a hot key's rows spread over `saltBuckets` reducers
    * instead of one. Result is identical to [[innerJoin]] (ccLeft merge);
    * use when one join key carries a disproportionate share of rows and
    * AQE's skew handling isn't available/enough. Costs a `saltBuckets`-x
    * replication of the right side — keep the right side the small one. */
  def innerJoinSalted(other: DataTable, by: Seq[String],
                      saltBuckets: Int = 16): DataTable = {
    val common = df.columns.toSet.intersect(other.df.columns.toSet).diff(by.toSet).toSeq
    val salt = "__graft_salt"
    val l = df.withColumn(salt, pmod(hash(df.columns.toIndexedSeq.map(col): _*), lit(saltBuckets)))
    val r = other.df.drop(common: _*)
      .withColumn(salt, explode(array((0 until saltBuckets).map(lit): _*)))
    DataTable(l.join(r, by :+ salt, "inner").drop(salt))
  }

  // ------------------------------------------------------------- set ops

  /** Vertical concat by column name; missing columns null-filled; optional
    * provenance id column (`bind_rows`, `dataframe.nim:926-1040`). */
  def bindRows(others: Seq[(String, DataTable)], idCol: String): DataTable = {
    val tagged = others.map { case (tag, t) =>
      t.df.withColumn(idCol, lit(tag))
    }
    DataTable(tagged.reduce(_.unionByName(_, allowMissingColumns = true)))
  }

  def bindRows(others: DataTable*): DataTable =
    DataTable(
      (df +: others.map(_.df)).reduce(_.unionByName(_, allowMissingColumns = true)))

  /** Strict concat — schemas must match exactly (`add`,
    * `dataframe.nim:1042-1082`). */
  def concat(other: DataTable): DataTable = {
    require(df.columns.toSeq == other.df.columns.toSeq,
      s"concat: column mismatch ${df.columns.toSeq} vs ${other.df.columns.toSeq}")
    DataTable(df.unionByName(other.df))
  }

  /** Append a single row (`add`, `dataframe.nim:762-821` — documented as
    * O(n) there and equally discouraged here: each call unions a one-row
    * relation; batch construction belongs in toDf / a source). Values are
    * coerced to the existing column types, positionally. */
  def addRow(values: Any*): DataTable = {
    require(values.length == df.columns.length,
      s"addRow: ${values.length} values for ${df.columns.length} columns")
    val coerced = values.zip(df.schema.fields).map { case (v, f) =>
      (v, f.dataType) match {
        case (null, _) => null
        case (x: Int, LongType) => x.toLong
        case (x: Int, DoubleType) => x.toDouble
        case (x: Long, DoubleType) => x.toDouble
        case (x: Float, DoubleType) => x.toDouble
        case (x, StringType) if x != null => x.toString
        case (x, _) => x
      }
    }
    val one = df.sparkSession.createDataFrame(
      java.util.Arrays.asList(Row.fromSeq(coerced)), df.schema)
    DataTable(df.unionByName(one))
  }

  /** Row-wise set difference; `symmetric=true` gives the symmetric
    * difference (`setDiff`, `dataframe.nim:2140-2195`). Exact SQL equality
    * (the reference's float-epsilon equality is confined to the test
    * comparator — SURVEY.md §7.5 risk 3). */
  def setDiff(other: DataTable, symmetric: Boolean = false): DataTable =
    if (!symmetric) DataTable(df.except(other.df))
    else DataTable(df.except(other.df).union(other.df.except(df)))

  def intersect(other: DataTable): DataTable = DataTable(df.intersect(other.df))

  /** Multiset variants (SQL `EXCEPT ALL` / `INTERSECT ALL`): per-row
    * MULTIPLICITY arithmetic instead of set semantics — a row appearing
    * m times left and n times right survives max(0, m-n) times in
    * [[setDiffAll]] and min(m, n) times in [[intersectAll]]. The plan is
    * one count-aggregate per side + a replicate generate, NOT a join of
    * duplicates (which explodes m×n on skewed rows) — safe on corpora
    * where near-identical boilerplate rows repeat millions of times. */
  def setDiffAll(other: DataTable): DataTable = DataTable(df.exceptAll(other.df))
  def intersectAll(other: DataTable): DataTable = DataTable(df.intersectAll(other.df))

  /** Distinct rows by a subset of columns, keeping all columns
    * (`unique`, `dataframe.nim:2370-2422`). Which row survives per key is
    * arbitrary (single shuffle, fastest); use [[uniqueFirstBy]] for the
    * reference's deterministic keep-first semantics. */
  def unique(cols: String*): DataTable =
    if (cols.isEmpty) withDf(df.distinct())
    else {
      // the aggregate Spark rewrites dropDuplicates(cols) to, spelled
      // out: that rewrite keeps the input attribute ids, and on Spark
      // 4.1.2 `exceptAll` over its result fails with
      // INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND
      def named(c: String) = col(s"`${c.replace("`", "``")}`")
      val keys = cols.distinct
      val rest = df.columns.toSeq.filterNot(keys.contains)
      val deduped =
        if (rest.isEmpty) df.select(keys.map(named): _*).distinct()
        else df.groupBy(keys.map(named): _*).agg(first(named(rest.head)).as(rest.head),
          rest.tail.map(c => first(named(c)).as(c)): _*)
      withDf(deduped.select(df.columns.toSeq.map(named): _*))
    }

  /** Distinct by `cols` keeping the first row per key under `order` —
    * the reference's keep-first-occurrence, made explicit for distributed
    * execution (one shuffle on `cols`, window row_number). */
  def uniqueFirstBy(cols: Seq[String], order: Column*): DataTable = {
    val w = Window.partitionBy(cols.map(col): _*).orderBy(order: _*)
    withDf(df.withColumn(RowNumCol, row_number().over(w))
      .filter(col(RowNumCol) === 1).drop(RowNumCol))
  }

  // ------------------------------------------------------------- reshape

  /** Wide→long (`gather`, `dataframe.nim:2205-2259`). Gathered columns are
    * cast to their promoted common type first (reference's
    * `withCombinedType` lattice: int⊔float→float, else string). */
  def gather(cols: Seq[String], key: String = "key", value: String = "value",
             dropNulls: Boolean = false): DataTable = {
    val ids = df.columns.filterNot(cols.contains)
    val target = promotedType(cols.map(c => df.schema(c).dataType))
    val cast = cols.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast(target)))
    val out = cast.unpivot(ids.map(col), cols.map(col).toArray, key, value)
    withDf(if (dropNulls) out.filter(col(value).isNotNull) else out)
  }

  /** Long→wide (`spread`, `dataframe.nim:2261-2345`). `strict=true`
    * replicates the reference's raise-on-unclean-mapping precheck
    * (`dataframe.nim:2317-2322`) at the cost of one extra aggregation job;
    * leave it off in production pipelines. */
  def spread(namesFrom: String, valuesFrom: String,
             strict: Boolean = false,
             values: Seq[String] = Nil): DataTable = {
    val rest = df.columns.filterNot(c => c == namesFrom || c == valuesFrom).toSeq
    if (strict) {
      val bad = df.groupBy((rest :+ namesFrom).map(col): _*)
        .agg(count(lit(1)).as("__c")).filter(col("__c") > 1).limit(1).count()
      require(bad == 0, s"spread: mapping from ($rest, $namesFrom) to $valuesFrom is not unique")
    }
    // Passing the pivot values avoids the extra distinct-values job Spark
    // otherwise runs — at cluster scale that's a full scan saved.
    val grouped = df.groupBy(rest.map(col): _*)
    val pivoted =
      if (values.nonEmpty) grouped.pivot(namesFrom, values)
      else grouped.pivot(namesFrom)
    withDf(pivoted.agg(first(col(valuesFrom))).orderBy(rest.map(col): _*))
  }

  // ------------------------------------------------------------- order ops

  /** lag/lead need an explicit order distributed; the reference shifts
    * physical rows (`column.nim:1177-1213`). `partitionBy` keys keep the
    * window parallel — a global lag (empty keys) funnels through one
    * partition here and is flagged for small data only; the scale path
    * for whole-table shifts is [[graft.operators.GlobalShift]]
    * (range-partitioned windows + boundary hand-off, no
    * SinglePartition). */
  def withLag(name: String, c: Column, n: Int, order: Seq[Column],
              partitionBy: Seq[String] = Nil, default: Any = null): DataTable = {
    val w = windowFor(partitionBy, order)
    withDf(df.withColumn(name, lag(c, n, default).over(w)))
  }

  def withLead(name: String, c: Column, n: Int, order: Seq[Column],
               partitionBy: Seq[String] = Nil, default: Any = null): DataTable = {
    val w = windowFor(partitionBy, order)
    withDf(df.withColumn(name, lead(c, n, default).over(w)))
  }

  /** Rank family over an explicit order (beyond-reference extension; the
    * reference has no window ranks — users rank by sorting and zipping an
    * index, which has no distributed analogue). `rank`/`dense_rank`/
    * `percent_rank`/`cume_dist` are TIE-STABLE: with a non-unique order
    * they still produce deterministic values, so `order` need not be a
    * total order. `ntile` is NOT tie-stable (it splits ties by physical
    * position); [[withNtile]] therefore demands the caller assert the
    * order is unique. percent_rank/cume_dist are single divisions of
    * exact integers — bit-identical across engines (oracle-safe). */
  def withRanks(order: Seq[Column], partitionBy: Seq[String] = Nil,
                rankName: String = "rnk", denseName: String = "drnk",
                pctName: String = "prnk", cumeName: String = "cdist"): DataTable = {
    val w = windowFor(partitionBy, order)
    withDf(df
      .withColumn(rankName, rank().over(w))
      .withColumn(denseName, dense_rank().over(w))
      .withColumn(pctName, percent_rank().over(w))
      .withColumn(cumeName, cume_dist().over(w)))
  }

  /** `ntile(n)` bucket assignment over a UNIQUE order (see [[withRanks]]:
    * ntile splits ties arbitrarily, so a non-unique order is
    * nondeterministic — the caller asserts uniqueness). */
  def withNtile(name: String, n: Int, uniqueOrder: Seq[Column],
                partitionBy: Seq[String] = Nil): DataTable = {
    val w = windowFor(partitionBy, uniqueOrder)
    withDf(df.withColumn(name, ntile(n).over(w)))
  }

  /** Rolling (trailing-frame) aggregate: `agg` evaluated over ROWS
    * BETWEEN n-1 PRECEDING AND CURRENT ROW per partition under an
    * explicit order — the per-entity trailing metric of an event
    * pipeline ("sum of this user's last n events"). One shuffle on the
    * partition keys; WindowExec streams each frame, state bounded by n.
    * Determinism caveat mirrors [[withNtile]]: with a NON-unique order,
    * which rows share a frame is ambiguous, so the caller asserts the
    * order is total within each partition. For cross-engine exactness
    * use order-insensitive-exact aggregates (integer sums/min/max/count
    * — the float house rule, Queries.scala scaladoc). */
  def withRolling(name: String, agg: Column, n: Int, uniqueOrder: Seq[Column],
                  partitionBy: Seq[String] = Nil): DataTable = {
    require(n > 0, "withRolling: frame must cover at least the current row")
    val w = windowFor(partitionBy, uniqueOrder).rowsBetween(-(n - 1).toLong, 0L)
    withDf(df.withColumn(name, agg.over(w)))
  }

  /** Running (cumulative) aggregate: `agg` over ROWS BETWEEN UNBOUNDED
    * PRECEDING AND CURRENT ROW — the prefix twin of [[withRolling]]
    * (dplyr `cumsum` et al.; absent from the reference, whose formula
    * layer would reach for seqmath's cumsum over a materialized column).
    * Same total-order contract; WindowExec keeps running state per
    * partition, O(1) memory per frame step. */
  def withRunning(name: String, agg: Column, uniqueOrder: Seq[Column],
                  partitionBy: Seq[String] = Nil): DataTable = {
    val w = windowFor(partitionBy, uniqueOrder)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withDf(df.withColumn(name, agg.over(w)))
  }

  /** Time/value-based trailing frame: RANGE BETWEEN `preceding` AND
    * CURRENT ROW over a NUMERIC order column (e.g. epoch micros) —
    * "the user's last hour" by clock, not by event count. Unlike the
    * ROWS frames above, RANGE includes ALL order-value peers, so the
    * frame is deterministic under ties with no tie-break needed, and
    * gaps in the order value shrink the frame naturally. `preceding`
    * is in the order column's units. */
  def withRollingRange(name: String, agg: Column, orderValue: Column,
                       preceding: Long, partitionBy: Seq[String] = Nil): DataTable = {
    require(preceding >= 0, "withRollingRange: preceding must be non-negative")
    val w = windowFor(partitionBy, Seq(orderValue)).rangeBetween(-preceding, 0L)
    withDf(df.withColumn(name, agg.over(w)))
  }

  // ------------------------------------------------------------- sampling

  /** Deterministic shuffle (`shuffle`, `dataframe.nim:2497-2512`). */
  def shuffleRows(seed: Long): DataTable = withDf(df.orderBy(rand(seed)))

  /** Random sample of ~n rows (`randomHead`, `dataframe.nim:2514-2521`). */
  def randomHead(n: Int, seed: Long): DataTable =
    withDf(df.orderBy(rand(seed)).limit(n))

  // ------------------------------------------------------------- utilities

  /** Min/max of a column ignoring ±Inf (`colMax`/`colMin`,
    * `dataframe.nim:886-924`). */
  def colMin(c: String): DataTable = {
    val v = col(c)
    DataTable(df.agg(min(when(!isInfinite(v), v)).as(s"min_$c")))
  }

  def colMax(c: String): DataTable = {
    val v = col(c)
    DataTable(df.agg(max(when(!isInfinite(v), v)).as(s"max_$c")))
  }

  /** Value-wise equality with another table (test kit; `equal`,
    * `dataframe.nim:385-405`). */
  def sameAs(other: DataTable): Boolean =
    df.columns.sorted.sameElements(other.df.columns.sorted) &&
      df.exceptAll(other.df.select(df.columns.toIndexedSeq.map(col): _*)).isEmpty &&
      other.df.select(df.columns.toIndexedSeq.map(col): _*).exceptAll(df).isEmpty

  def show(n: Int = 20): Unit = df.show(n, truncate = false)

  private def htmlEsc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** HTML table rendering (`toHtml`, `io.nim:866-939`): driver-side over
    * the first `n` rows. */
  def toHtml(n: Int = 100): String = {
    val names = df.columns.toSeq
    val rows = df.limit(n).collect()
    def cell(v: Any): String = if (v == null) "" else htmlEsc(v.toString)
    val head = names.map(c => s"<th>${htmlEsc(c)}</th>").mkString
    val body = rows.map(r =>
      names.indices.map(i => s"<td>${cell(r.get(i))}</td>")
        .mkString("<tr>", "", "</tr>")).mkString("\n")
    s"<table>\n<thead><tr>$head</tr></thead>\n<tbody>\n$body\n</tbody>\n</table>"
  }

  /** Write the first `n` rows as a standalone HTML page and open it in
    * the default browser (`showBrowser`, `io.nim:895-917`). The page is
    * written under `dir` (the reference writes to the temp dir) and the
    * browser launch is BEST-EFFORT — `xdg-open`/`open` are absent on
    * headless cluster nodes, so a failed launch is swallowed and the
    * written path is returned either way for the caller to fetch.
    * Driver-side by construction (`n`-row page, same bound as
    * [[toHtml]]); never part of a distributed plan. */
  def showBrowser(fname: String = "df.html",
                  dir: String = System.getProperty("java.io.tmpdir"),
                  n: Int = 100, title: String = ""): java.nio.file.Path = {
    val target = java.nio.file.Paths.get(dir).resolve(fname)
    val titl = if (title.nonEmpty) s"$target - $title" else target.toString
    val page =
      s"""<!DOCTYPE html>
         |<html>
         |<head><meta charset="utf-8"><title>${htmlEsc(titl)}</title></head>
         |<body>
         |${toHtml(n)}
         |</body>
         |</html>
         |""".stripMargin
    java.nio.file.Files.write(target, page.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val opener = sys.props("os.name").toLowerCase match {
      case mac if mac.contains("mac") => "open"
      case _ => "xdg-open"
    }
    try new ProcessBuilder(opener, target.toString).start()
    catch { case _: java.io.IOException => () } // headless: page still on disk
    target
  }

  /** Org-mode table rendering (`toOrgTable`, `io.nim:920-939`). */
  def toOrgTable(n: Int = 100): String = {
    val names = df.columns.toSeq
    val rows = df.limit(n).collect()
    def cell(v: Any): String = if (v == null) "" else v.toString
    val header = names.mkString("| ", " | ", " |")
    val sep = names.map(_ => "---").mkString("|", "+", "|")
    val body = rows.map(r =>
      names.indices.map(i => cell(r.get(i))).mkString("| ", " | ", " |")).mkString("\n")
    s"$header\n$sep\n$body"
  }

  /** Aligned console rendering with the reference's dtype row
    * (`pretty`, `dataframe.nim:823-874`): shape header, column names,
    * dtype line, first `n` rows. Driver-side collect of `n` rows only. */
  def pretty(n: Int = 20, precision: Int = 4): String = {
    val total = df.count()
    val rows = df.limit(n).collect()
    def fmt(v: Any): String = v match {
      case null => "null"
      case d: Double => s"%.${precision}g".format(d)
      case f: Float => s"%.${precision}g".format(f.toDouble)
      case x => x.toString
    }
    def dtypeName(t: DataType): String = t match {
      case LongType | IntegerType | ShortType | ByteType => "int"
      case DoubleType | FloatType => "float"
      case StringType => "string"
      case BooleanType => "bool"
      case other => other.simpleString
    }
    val names = df.columns.toSeq
    val dtypes = df.schema.fields.map(f => dtypeName(f.dataType)).toSeq
    val cells: Seq[Seq[String]] = rows.toSeq.map(r => names.indices.map(i => fmt(r.get(i))))
    val widths = names.indices.map { i =>
      (Seq(names(i).length, dtypes(i).length) ++ cells.map(_(i).length)).max + 2
    }
    val idxW = math.max(5, n.toString.length + 2)
    val sb = new StringBuilder
    sb ++= s"DataTable with ${names.length} columns and $total rows:\n"
    sb ++= "Idx".reverse.padTo(idxW, ' ').reverse
    names.indices.foreach(i => sb ++= names(i).reverse.padTo(widths(i), ' ').reverse)
    sb += '\n'
    sb ++= "dtype:".reverse.padTo(idxW, ' ').reverse
    names.indices.foreach(i => sb ++= dtypes(i).reverse.padTo(widths(i), ' ').reverse)
    sb += '\n'
    cells.zipWithIndex.foreach { case (row, ri) =>
      sb ++= ri.toString.reverse.padTo(idxW, ' ').reverse
      names.indices.foreach(i => sb ++= row(i).reverse.padTo(widths(i), ' ').reverse)
      sb += '\n'
    }
    sb.result()
  }
}

object DataTable {

  private val RowNumCol = "__graft_rn"

  private val LiftColPrefix = "__graft_lift_"

  /** Aggregate function names recognized by the grouped-verb window rewrite. */
  private val AggFunctionNames: Set[String] = Set(
    "sum", "avg", "mean", "min", "max", "count", "count_distinct",
    "stddev", "stddev_samp", "stddev_pop", "variance", "var_samp", "var_pop",
    "first", "last", "collect_list", "collect_set", "skewness", "kurtosis",
    "corr", "covar_samp", "covar_pop", "approx_count_distinct", "median",
    "percentile_approx", "product", "bool_and", "bool_or", "any_value")

  private def isInfinite(c: Column): Column =
    c === Double.PositiveInfinity || c === Double.NegativeInfinity

  private def windowFor(partitionBy: Seq[String], order: Seq[Column]) = {
    val base =
      if (partitionBy.isEmpty) Window.partitionBy()
      else Window.partitionBy(partitionBy.map(col): _*)
    base.orderBy(order: _*)
  }

  /** The reference's type-promotion lattice (`combinedColKind`,
    * `column.nim:507-522`): identical → itself; {int,float} → float;
    * anything else → string (our stand-in for `colObject`; SURVEY.md §7.5
    * risk 1). */
  def promotedType(ts: Seq[DataType]): DataType = {
    val distinct = ts.distinct
    if (distinct.size == 1) distinct.head
    else if (distinct.forall(t => t == LongType || t == IntegerType || t == DoubleType ||
      t == FloatType || t == ShortType || t == ByteType))
      DoubleType
    else StringType
  }

  def apply(df: DataFrame): DataTable = new DataTable(df, Nil)
}
