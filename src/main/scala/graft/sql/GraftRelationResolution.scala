package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, NamedExpression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{col, element_at, split}
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.types.StructType

import graft.sources.AtomicWarehouse

/** Analyzer rule (injected by [[graft.GraftExtensions]]) that swaps every
  * [[GraftTable]] V2 relation for the engine-built read plan:
  *
  *   - a native parquet [[HadoopFsRelation]] over a [[GraftFileIndex]], so
  *     Catalyst's `FileSourceStrategy` hands data filters to the MANIFEST
  *     (stats / dictionary value sets / Bloom sidecars prune files before
  *     any open) while the scan stays the vectorized reader inside
  *     WholeStageCodegen;
  *   - the logical→physical column mapping projected back (rename support);
  *   - deletion vectors applied as the same broadcast anti-join on
  *     `(_metadata file leaf, row ordinal)` the Scala read path uses;
  *   - `VERSION AS OF` routed through [[AtomicWarehouse.readAt]].
  *
  * The rewrite aliases the engine plan's output to the V2 relation's
  * attribute ids, so references elsewhere in the query keep resolving.
  */
case class GraftRelationResolution(spark: SparkSession) extends Rule[LogicalPlan]
    with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    // row-level commands route their TARGET through the V2 connector
    // surface, not a read plan — rewriting it into a file relation here
    // would leave DataSourceV2Strategy nothing to plan. DELETE on a graft
    // table resolves HERE to the filter-pushed command (the table is
    // deletable but deliberately not V2-readable, so Spark's own
    // OptimizeMetadataOnlyDeleteFromTable would be preempted by the scan
    // builder's asReadable); untranslatable conditions stay put and
    // surface Spark's own unsupported-delete error.
    case d @ logical.DeleteFromTable(target, cond) if d.resolved &&
        (org.apache.spark.sql.catalyst.analysis.EliminateSubqueryAliases(target) match {
          case r: DataSourceV2Relation => r.table.isInstanceOf[GraftTable]
          case _ => false
        }) =>
      val r = org.apache.spark.sql.catalyst.analysis.EliminateSubqueryAliases(target)
        .asInstanceOf[DataSourceV2Relation]
      val preds = splitConjunctivePredicates(cond).map(shims.translateFilterV2)
      if (preds.forall(_.isDefined) &&
          r.table.asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsDeleteV2]
            .canDeleteWhere(preds.flatten.toArray))
        logical.DeleteFromTableWithFilters(r, preds.flatten)
      else rerootCond(cond) match {
        // condition outside the FilePred algebra (LIKE, functions, column
        // comparisons): exact-condition copy-on-write over the candidates
        // the TRANSLATABLE conjuncts keep — correct where pruning can't
        // help. Subqueries/nondeterminism stay put → Spark's own error.
        case Some(c) => GraftDeleteRowsCommand(
          r.table.asInstanceOf[GraftTable], c, translatableConjuncts(cond))
        case None => d
      }
    case _: logical.DeleteFromTable => plan
    case u: logical.UpdateTable if u.resolved && graftTarget(u.table).isDefined =>
      translateUpdate(u, graftTarget(u.table).get).getOrElse(u)
    case _: logical.UpdateTable => plan
    case m: logical.MergeIntoTable
        if m.resolved && graftTarget(m.targetTable).isDefined =>
      translateMerge(m, graftTarget(m.targetTable).get).getOrElse(m)
    case _: logical.MergeIntoTable => plan
    // CHECK constraint DDL on a graft table routes straight to the
    // engine's addConstraint (which validates existing rows through the
    // engine read — Spark's own validation scan would need a V2 read path
    // the table deliberately doesn't expose). The engine ENFORCES every
    // declared CHECK, including ones declared NOT ENFORCED — stricter
    // than declared, never weaker.
    // (the node's child is Spark's validation scan — Filter(NOT cond,
    // relation) — so the target is the relation UNDER it)
    case a: logical.AddCheckConstraint if a.resolved &&
        a.child.collectFirst {
          case r: DataSourceV2Relation if r.table.isInstanceOf[GraftTable] => r
        }.isDefined =>
      val t = a.child.collectFirst {
        case r: DataSourceV2Relation if r.table.isInstanceOf[GraftTable] =>
          r.table.asInstanceOf[GraftTable]
      }.get
      GraftAddCheckCommand(t, a.checkConstraint.name, a.checkConstraint.condition)
    // other constraint DDL resolves its TARGET relation in place; splicing
    // the engine read plan under it would make ResolveSessionCatalog
    // mistake the bare LogicalRelation for a V1 session-catalog table.
    // The command reaches alterTable through the V2 path untouched.
    case _: logical.AddCheckConstraint => plan
    case _: logical.AddConstraint => plan
    case _: logical.DropConstraint => plan
    case _ => rewriteReads(plan)
  }

  private def rewriteReads(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftTable] =>
        val t = r.table.asInstanceOf[GraftTable]
        val built = GraftRelationResolution.planFor(spark, t)
        val aliased: Seq[NamedExpression] = r.output.zip(built.output).map {
          case (o, n) => Alias(n, o.name)(exprId = o.exprId)
        }
        Project(aliased, built)
    }

  private def graftTarget(target: LogicalPlan): Option[GraftTable] =
    org.apache.spark.sql.catalyst.analysis.EliminateSubqueryAliases(target) match {
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftTable] =>
        Some(r.table.asInstanceOf[GraftTable])
      case _ => None
    }

  /** The condition's AttributeReferences re-rooted to plain names as a
    * [[org.apache.spark.sql.Column]] over the engine's read frame — None
    * when the condition contains a subquery (re-evaluated per retry
    * against a moving snapshot) or a nondeterministic expression (the
    * count and the rewrite evaluate it independently): those stay with
    * Spark's own error rather than a silently different result.
    */
  private def rerootCond(cond: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, PlanExpression}
    if (!cond.deterministic || cond.exists(_.isInstanceOf[PlanExpression[_]])) None
    else Some(shims.column(cond.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    }))
  }

  /** The conjuncts of `cond` that translate into the FilePred algebra —
    * a sound pruning under-approximation for the exact-condition fallback
    * (a cond-true row satisfies every conjunct, so it lives in a file every
    * translated conjunct keeps).
    */
  private def translatableConjuncts(
      cond: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[graft.sources.FilePred] =
    splitConjunctivePredicates(cond).flatMap(GraftFileIndex.translate(_, Map.empty))

  /** `UPDATE ... SET ... WHERE ...` → [[GraftUpdateCommand]] when the
    * WHERE fully translates into the FilePred algebra and every SET key is
    * a plain column; a WHERE outside the algebra falls back to the
    * exact-condition rewrite ([[GraftUpdateRowsCommand]] — translatable
    * conjuncts still prune). Subqueries, nondeterminism, or non-column SET
    * keys stay put and surface Spark's own unsupported-UPDATE error
    * (never a silently different result).
    */
  private def translateUpdate(u: logical.UpdateTable,
      t: GraftTable): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    val setsOpt = traverse(u.assignments) {
      case logical.Assignment(k: AttributeReference, v) =>
        if (!v.deterministic || v.exists(_.isInstanceOf[
            org.apache.spark.sql.catalyst.expressions.PlanExpression[_]])) None
        else {
          val rerooted = v.transform {
            case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
          }
          Some(k.name -> shims.column(rerooted))
        }
      case _ => None
    }
    val fastPath = for {
      cond <- u.condition
      predOpts = splitConjunctivePredicates(cond)
        .map(GraftFileIndex.translate(_, Map.empty))
      if predOpts.forall(_.isDefined)
      sets <- setsOpt
    } yield GraftUpdateCommand(t, predOpts.flatten, sets)
    fastPath.orElse {
      // WHERE outside the algebra — or no WHERE at all (every row updates)
      val cond = u.condition.getOrElse(
        org.apache.spark.sql.catalyst.expressions.Literal.TrueLiteral)
      for (c <- rerootCond(cond); sets <- setsOpt) yield GraftUpdateRowsCommand(
        t, c, u.condition.map(translatableConjuncts).getOrElse(Nil), sets)
    }
  }

  /** `MERGE INTO ... USING ... ON ... WHEN ...` → [[GraftMergeCommand]]
    * for the engine-expressible shape: same-named equi-join keys, at most
    * one matched UPDATE and one matched DELETE, a NOT MATCHED INSERT that
    * is either identity (`INSERT *`) or an explicit assignment list
    * covering every target column (computed inserts), at most one
    * NOT MATCHED BY SOURCE UPDATE and one NOT MATCHED BY SOURCE DELETE
    * (Delta's clause set — conditions/assignments reference the target),
    * and WITH SCHEMA EVOLUTION (extra source columns adopted via
    * metadata-only addColumn, assigned in the update/insert paths — see
    * the inline note). SQL's keep-target-for-unassigned-columns
    * semantics are made explicit (mergeInto's default would take the
    * source), and a merge with no UPDATE clause pins `updateWhen = false`
    * so matched rows pass untouched. NMBS clause conditions feed the
    * candidate pruning as their translatable conjuncts OR'd per clause
    * ([[graft.sources.ColOr]]) — an unconditional or untranslatable NMBS
    * clause makes the merge a full-table copy-on-write, which is what it
    * means. Anything else stays put → Spark's own error.
    */
  private def translateMerge(m: logical.MergeIntoTable,
      t: GraftTable): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo}
    import org.apache.spark.sql.functions.lit
    // WITH SCHEMA EVOLUTION: Spark's own evolution rule only fires for
    // SupportsRowLevelOperations tables, so the analyzer hands us the merge
    // RESOLVED against the current (narrow) target schema with the extra
    // source columns absent from every aligned assignment. The engine
    // adopts them itself: each extra source column is ADDED to the target
    // (metadata-only, nullable) and assigned from the source in the update
    // and insert paths — the `SET *` / `INSERT *` evolution semantics.
    // Star-expansion is indistinguishable from explicit full assignment
    // lists post-analysis, so the engine evolves EVERY extra source column
    // when the clause was spelled WITH SCHEMA EVOLUTION — that is what the
    // user opted into; leave the clause off to keep extra source columns
    // (CDC op/sequence metadata) out of the target.
    val evolve: Seq[(String, org.apache.spark.sql.types.DataType)] =
      if (!m.withSchemaEvolution) Nil
      else m.sourceTable.output
        .filterNot(a => t.tableSchema.fieldNames.contains(a.name))
        .map(a => a.name -> a.dataType)
    val evoSets = evolve.map { case (n, _) =>
      n -> shims.column(UnresolvedAttribute(Seq("s", n))) }
    val tgtOut = m.targetTable.outputSet
    val srcOut = m.sourceTable.outputSet
    def alias(e: org.apache.spark.sql.catalyst.expressions.Expression)
        : Option[org.apache.spark.sql.catalyst.expressions.Expression] = {
      var ok = true
      val out = e.transform {
        case a: AttributeReference =>
          if (tgtOut.contains(a)) UnresolvedAttribute(Seq("t", a.name))
          else if (srcOut.contains(a)) UnresolvedAttribute(Seq("s", a.name))
          else { ok = false; a }
      }
      if (ok) Some(out) else None
    }
    def isIdentity(k: String, v: org.apache.spark.sql.catalyst.expressions.Expression)
        : Boolean = v match {
      case a: AttributeReference => a.name == k &&
        (srcOut.contains(a) || tgtOut.contains(a))
      case _ => false
    }
    for {
      keyCols <- traverse(splitConjunctivePredicates(m.mergeCondition)) {
        case EqualTo(a: AttributeReference, b: AttributeReference)
            if a.name == b.name &&
              ((tgtOut.contains(a) && srcOut.contains(b)) ||
               (tgtOut.contains(b) && srcOut.contains(a))) => Some(a.name)
        case _ => None
      }
      if keyCols.nonEmpty && keyCols.distinct == keyCols
      // SQL applies the FIRST matching clause; mergeInto checks DELETE
      // before UPDATE. Only orderings whose semantics coincide translate:
      // delete-first (same order), a lone clause, or update-first with an
      // UNCONDITIONAL update (the delete is unreachable and drops).
      actions <- m.matchedActions match {
        case Seq() => Some((None, None))
        case Seq(ua: logical.UpdateAction) => Some((Some(ua), None))
        case Seq(da: logical.DeleteAction) => Some((None, Some(da)))
        case Seq(da: logical.DeleteAction, ua: logical.UpdateAction) =>
          Some((Some(ua), Some(da)))
        case Seq(ua: logical.UpdateAction, _: logical.DeleteAction)
            if ua.condition.isEmpty => Some((Some(ua), None))
        case _ => None
      }
      (updAction, delAction) = actions
      upds = updAction.toSeq
      dels = delAction.toSeq
      insOpt <- m.notMatchedActions match {
        case Seq() => Some(None)
        case Seq(ia: logical.InsertAction) =>
          val covers = t.tableSchema.fieldNames.forall(c => ia.assignments.exists {
            case logical.Assignment(k: AttributeReference, _) => k.name == c
            case _ => false
          })
          val identity = covers && ia.assignments.forall {
            case logical.Assignment(k: AttributeReference, v) => isIdentity(k.name, v)
            case _ => false
          }
          if (identity) Some(Some((ia, Seq.empty[(String, org.apache.spark.sql.Column)])))
          else if (!covers) None
          else traverse(ia.assignments) {
            case logical.Assignment(k: AttributeReference, v) =>
              alias(v).map(e => k.name -> shims.column(e))
            case _ => None
          }.map(a => Some((ia, a)))
        case _ => None
      }
      nmbsActions <- m.notMatchedBySourceActions match {
        case Seq() => Some((None, None))
        case Seq(ua: logical.UpdateAction) => Some((Some(ua), None))
        case Seq(da: logical.DeleteAction) => Some((None, Some(da)))
        case Seq(da: logical.DeleteAction, ua: logical.UpdateAction) =>
          Some((Some(ua), Some(da)))
        case Seq(ua: logical.UpdateAction, _: logical.DeleteAction)
            if ua.condition.isEmpty => Some((Some(ua), None))
        case _ => None
      }
      (nmbsUpdAction, nmbsDelAction) = nmbsActions
      nmbsUpdPair <- nmbsUpdAction match {
        case None => Some((Seq.empty[(String, org.apache.spark.sql.Column)],
          None: Option[org.apache.spark.sql.Column]))
        case Some(ua) =>
          val assigns = ua.assignments.collect {
            case logical.Assignment(k: AttributeReference, v) => k.name -> v
          }
          if (assigns.size != ua.assignments.size) None
          else if (assigns.exists { case (k, v) =>
            keyCols.contains(k) && !isIdentity(k, v) }) None
          else {
            val setsOpt = traverse(assigns.filterNot {
              case (k, v) => isIdentity(k, v) }) {
              case (k, v) => alias(v).map(e => k -> shims.column(e))
            }
            val whenOpt: Option[Option[org.apache.spark.sql.Column]] =
              ua.condition match {
                case None => Some(None)
                case Some(c) => alias(c).map(e => Some(shims.column(e)))
              }
            for (s_ <- setsOpt; w <- whenOpt) yield (s_, w)
          }
      }
      nmbsDelCond <- nmbsDelAction match {
        case None => Some(None: Option[org.apache.spark.sql.Column])
        case Some(da) => da.condition match {
          case None => Some(Some(lit(true)))
          case Some(c) => alias(c).map(e => Some(shims.column(e)))
        }
      }
      updPair <- upds.headOption match {
        case None => Some((Seq.empty[(String, org.apache.spark.sql.Column)],
          Some(lit(false))))
        case Some(ua) =>
          val assignMap = ua.assignments.collect {
            case logical.Assignment(k: AttributeReference, v) => k.name -> v
          }
          if (assignMap.size != ua.assignments.size) None
          else if (assignMap.exists { case (k, v) =>
            keyCols.contains(k) && !isIdentity(k, v) }) None
          else {
            val nonKey = t.tableSchema.fieldNames.toSeq.filterNot(keyCols.contains)
            val am = assignMap.toMap
            val setsOpt = traverse(nonKey) { c =>
              am.get(c) match {
                // SQL: an unassigned column KEEPS the target value
                case None => Some(c -> shims.column(UnresolvedAttribute(Seq("t", c))))
                case Some(v) => alias(v).map(e => c -> shims.column(e))
              }
            }
            val whenOpt: Option[Option[org.apache.spark.sql.Column]] =
              ua.condition match {
                case None => Some(None)
                case Some(c) => alias(c).map(e => Some(shims.column(e)))
              }
            for (s_ <- setsOpt; w <- whenOpt) yield (s_ ++ evoSets, w)
          }
      }
      delCond <- dels.headOption match {
        case None => Some(None)
        case Some(da) => da.condition match {
          case None => Some(Some(lit(true)))
          case Some(c) => alias(c).map(e => Some(shims.column(e)))
        }
      }
      insWhen <- insOpt match {
        case None => Some(None)
        case Some((ia, _)) => ia.condition match {
          case None => Some(None)
          case Some(c) => alias(c).map(e => Some(shims.column(e)))
        }
      }
    } yield {
      // sound NMBS candidate pruning: each clause contributes its
      // condition's translatable conjuncts; clauses OR (either can touch a
      // row), so the branches join under ColOr. Any unconditional or
      // untranslatable clause → no pruning (every file is a candidate).
      val nmbsPrune: Seq[graft.sources.FilePred] = {
        val clauseConds: Seq[Option[org.apache.spark.sql.catalyst.expressions.Expression]] =
          Seq(nmbsUpdAction.map(_.condition), nmbsDelAction.map(_.condition)).flatten
        if (clauseConds.isEmpty || clauseConds.exists(_.isEmpty)) Nil
        else {
          val branches = clauseConds.flatten.map(translatableConjuncts)
          if (branches.exists(_.isEmpty)) Nil
          else if (branches.size == 1) branches.head
          else Seq(graft.sources.ColOr(branches))
        }
      }
      GraftMergeCommand(t, rewriteReads(m.sourceTable), keyCols,
        updPair._1, updPair._2, delCond,
        insertUnmatched = insOpt.isDefined, insWhen,
        insAssign = insOpt.map(_._2).getOrElse(Nil),
        nmbsUpd = nmbsUpdPair._1, nmbsUpdWhen = nmbsUpdPair._2,
        nmbsDel = nmbsDelCond, nmbsPrune = nmbsPrune,
        evolve = evolve)
    }
  }

  /** Option-sequencing map (all-or-nothing translation). */
  private def traverse[A, B](xs: Seq[A])(f: A => Option[B]): Option[Seq[B]] =
    xs.foldLeft(Option(Seq.empty[B])) {
      (acc, x) => for (a <- acc; b <- f(x)) yield a :+ b
    }
}

object GraftRelationResolution {

  /** The analyzed engine plan reading `t` (current or as-of version). */
  private[sql] def planFor(spark: SparkSession, t: GraftTable): LogicalPlan =
    dfFor(spark, t).queryExecution.analyzed

  private[sql] def dfFor(spark: SparkSession, t: GraftTable): DataFrame = {
    val wh = t.wh
    val table = t.tableName
    val schema = t.tableSchema
    t.asOfVersion match {
      case Some(v) => wh.readAt(table, schema, v)
      case None =>
        val files = wh.visibleDataFiles(table)
        if (files.exists(_.contains("/")))
          // hive-partition-dir layout: partition values live in the path,
          // which needs discovery-based listing — route through the
          // engine's basePath read (correct, no manifest pruning; DV
          // operations already refuse this layout)
          wh.read(table, schema)
        else {
          val m = wh.colMapOf(table) // logical -> physical
          val physSchema = StructType(schema.fields.map(f =>
            f.copy(name = m.getOrElse(f.name, f.name))))
          val index = new GraftFileIndex(wh, table,
            physToLogical = m.map(_.swap))
          val relation = HadoopFsRelation(
            location = index,
            partitionSchema = new StructType(),
            dataSchema = physSchema,
            bucketSpec = None,
            fileFormat = new ParquetFileFormat,
            options = Map.empty)(
            spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
          val base = shims.ofRows(spark, LogicalRelation(relation, isStreaming = false))
          val dvJson = wh.currentDvJson(table)
          val alive =
            if (dvJson.isEmpty) base
            else {
              // identical seam to AtomicWarehouse.readTagged: DV'd rows are
              // identified by (file leaf name, ordinal) and anti-joined out
              // through dvAntiJoin — broadcast below the tombstone gate,
              // fully distributed above it, so the SQL path's driver cost
              // stays O(manifest) however many rows are dead
              val tagged = base
                .withColumn("__file",
                  element_at(split(col("_metadata.file_path"), "/"), -1))
                .withColumn("__ord", col("_metadata.row_index"))
              wh.dvAntiJoin(tagged, table, dvJson)
            }
          alive.select(schema.fields.toSeq.map(f =>
            col(m.getOrElse(f.name, f.name)).as(f.name)): _*)
        }
    }
  }
}
