package graft.plans

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{
  Alias, AttributeReference, Cast, Expression, IntegerLiteral, Round, SortOrder}
import org.apache.spark.sql.catalyst.expressions.{Ascending, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{
  GlobalLimit, LocalLimit, LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{
  ArrayType, DoubleType, FloatType, LongType, StructField, StructType}

import graft.functions.{Distances, VectorDistance}
import graft.index.LshForest

/** The optimizer piece SURVEY §4.2 declared as custom piece (3): a logical
  * rule that recognizes the BRUTE-FORCE kNN plan shape —
  *
  * {{{
  *   SELECT vec_id, round(vector_l2sq(embedding, <literal query>), 4) AS d
  *   FROM vectors ORDER BY d [, vec_id] LIMIT k
  * }}}
  *
  * over a corpus with a REGISTERED LSH index, and rewrites it to the
  * engine's index/candidate path ([[LshForest.topK]]: driver-side probe
  * routing → bucket join against the broadcast probe list → exact rerank
  * of the candidates only). Naive user SQL then hits the index instead of
  * scoring + sorting the full corpus — at 100 TB the difference between
  * scoring every vector and scoring a few thousand candidates. The
  * reference has no planner at all (SURVEY §4.1); this is the Spark-native
  * analogue of its hardcoded index access path (lsh.rs:544-565) made
  * available to DECLARATIVE queries.
  *
  * Semantics: the rewrite preserves the plan's results exactly when the
  * registered budget is exhaustive (every leaf probed — candidates = the
  * corpus, rerank ≡ brute force; the `knn_rewrite_index` gate hash-lands
  * on the brute-force oracle this way), and is recall-bounded
  * approximate at serving budgets, like every index path. Row ORDER is
  * preserved — the original Sort/Limit stays on top of the (k-row)
  * rewritten child; only the corpus-sized scan+score below it is
  * replaced. Tie-breaking: the index path breaks distance ties by id
  * ([[graft.ops.SimSearch.takeTopK]]), so plans whose trailing sort key
  * is the id column (or whose boundary is tie-free) are exact.
  *
  * Opt-out: Spark's own
  * `SET spark.sql.optimizer.excludedRules=graft.plans.KnnIndexRewrite`,
  * which drops the rule by name whether it came in through
  * [[graft.GraftExtensions]] or [[KnnIndexRewrite.install]] (the rule
  * additionally never fires on corpora nobody registered).
  */
object KnnIndexRegistry {

  /** One indexed corpus: the vectors parquet path is the MATCH KEY (a
    * scan over it triggers the rewrite); `indexPath` is the persisted
    * bucket table ([[LshForest.writeIndex]] layout); `searchK` None =
    * the serving default budget, Some(Int.MaxValue) = exhaustive. */
  final case class Entry(
      vectorsPath: String,
      indexPath: String,
      model: LshForest.ForestModel,
      vecId: String = "vec_id",
      embCol: String = "embedding",
      searchK: Option[Int] = None,
      maxK: Int = 1000)

  private val entries =
    scala.collection.concurrent.TrieMap[String, Entry]()
  private val bucketCache =
    scala.collection.concurrent.TrieMap[(SparkSession, String), DataFrame]()

  /** Fully-qualified URI string for a path — what HadoopFsRelation
    * reports as its root paths. */
  private[plans] def qualify(s: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(s.sparkContext.hadoopConfiguration)
      .makeQualified(p).toUri.toString
  }

  def register(s: SparkSession, entry: Entry): Unit =
    entries.put(qualify(s, entry.vectorsPath), entry)

  def unregister(s: SparkSession, vectorsPath: String): Unit =
    entries.remove(qualify(s, vectorsPath))

  def clear(): Unit = { entries.clear(); bucketCache.clear() }

  private[plans] def lookup(qualified: String): Option[Entry] =
    entries.get(qualified)

  private[plans] def buckets(s: SparkSession, entry: Entry): DataFrame =
    bucketCache.getOrElseUpdate(
      (s, entry.indexPath), LshForest.loadIndex(s, entry.indexPath))
}

class KnnIndexRewrite(session: SparkSession) extends Rule[LogicalPlan] {

  /** Op → engine metric, for the metrics whose output quantization is
    * `round(·, 4)` — the only ones whose index-path output expression
    * equals the naive plan's `round(vector_*(…), 4)` byte for byte.
    * (Cosine quantizes by truncation — [[Distances.trunc4NonNeg]] — so a
    * round-wrapped naive cosine plan would NOT be result-identical and is
    * deliberately not rewritten.) */
  private val metricFor: Map[VectorDistance.Op, Distances.Metric] = Map(
    VectorDistance.L2Sq -> Distances.L2Squared,
    VectorDistance.Manhattan -> Distances.Manhattan,
    VectorDistance.Chebyshev -> Distances.Chebyshev,
    VectorDistance.Canberra -> Distances.Canberra,
    VectorDistance.BrayCurtis -> Distances.BrayCurtis)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (KnnIndexRewrite.rewriting.get()) return plan
    plan.transformDown {
      // Limit.unapply would also match, but matching the full
      // GlobalLimit/LocalLimit pair keeps the replaced region explicit.
      case node @ GlobalLimit(IntegerLiteral(k),
          LocalLimit(IntegerLiteral(_),
            Sort(orders, true, proj @ Project(_, rel: LogicalRelation), _))) =>
        tryRewrite(node, k, orders, proj, rel).getOrElse(node)
    }
  }

  /** Strip value-exact array casts (float→double element widening) down
    * to a relation attribute. */
  private def asRelAttr(e: Expression): Option[AttributeReference] = e match {
    case a: AttributeReference => Some(a)
    case c: Cast => (c.child.dataType, c.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(DoubleType, _)) =>
        asRelAttr(c.child)
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        asRelAttr(c.child)
      case _ => None
    }
    case _ => None
  }

  private def literalVec(e: Expression): Option[Array[Double]] = {
    if (!e.foldable) return None
    e.dataType match {
      case ArrayType(DoubleType | FloatType, _) =>
        Option(e.eval()).map { v =>
          val ad = v.asInstanceOf[ArrayData]
          val out = new Array[Double](ad.numElements())
          e.dataType match {
            case ArrayType(DoubleType, _) =>
              var i = 0
              while (i < out.length) { out(i) = ad.getDouble(i); i += 1 }
            case _ =>
              var i = 0
              while (i < out.length) { out(i) = ad.getFloat(i).toDouble; i += 1 }
          }
          out
        }
      case _ => None
    }
  }

  /** `round(vector_*(emb, <lit>), 4)` (either argument order) →
    * (embedding attribute, query vector, metric). */
  private def distExpr(e: Expression)
      : Option[(AttributeReference, Array[Double], Distances.Metric)] =
    e match {
      case r: Round if r.scale.foldable && r.scale.eval() == 4 =>
        r.child match {
          case vd: VectorDistance =>
            metricFor.get(vd.op).flatMap { m =>
              (asRelAttr(vd.left), literalVec(vd.right),
                asRelAttr(vd.right), literalVec(vd.left)) match {
                case (Some(attr), Some(q), _, _) => Some((attr, q, m))
                case (_, _, Some(attr), Some(q)) => Some((attr, q, m))
                case _ => None
              }
            }
          case _ => None
        }
      case _ => None
    }

  private def tryRewrite(
      node: LogicalPlan, k: Int, orders: Seq[SortOrder],
      proj: Project, rel: LogicalRelation): Option[LogicalPlan] = {
    // The scanned files must be EXACTLY the registered indexed corpus: a
    // multi-root-path relation (spark.read.parquet(registeredDir, other))
    // is a DIFFERENT corpus — rewriting it to the index over just the
    // registered path would silently drop the other paths' vectors from
    // the result, so only a single-root scan matches.
    val entry = rel.relation match {
      case fs: HadoopFsRelation if fs.location.rootPaths.length == 1 =>
        KnnIndexRegistry.lookup(fs.location.rootPaths.head.toUri.toString)
      case _ => None
    }
    if (entry.isEmpty || k <= 0 || k > entry.get.maxK) return None
    val reg = entry.get

    // project list: exactly [the id attribute, the distance alias]
    val (distAliases, others) = proj.projectList.partition {
      case a: Alias => distExpr(a.child).isDefined
      case _ => false
    }
    val distAlias = distAliases match {
      case Seq(a: Alias) => a
      case _ => return None
    }
    val idAttr = others match {
      case Seq(a: AttributeReference) if a.name == reg.vecId => a
      case _ => return None
    }
    val (embAttr, qVec, metric) = distExpr(distAlias.child).get
    if (embAttr.name != reg.embCol) return None

    // sort: distance ascending, optionally followed by the id ascending
    // (the index path's tie-break order)
    val okOrders = orders match {
      case Seq(SortOrder(d: AttributeReference, Ascending, _, _))
          if d.exprId == distAlias.exprId => true
      case Seq(SortOrder(d: AttributeReference, Ascending, _, _),
               SortOrder(i: AttributeReference, Ascending, _, _))
          if d.exprId == distAlias.exprId && i.exprId == idAttr.exprId => true
      case _ => false
    }
    if (!okOrders) return None

    try {
      KnnIndexRewrite.rewriting.set(true)
      val qSchema = StructType(Seq(
        StructField("query_id", LongType),
        StructField("embedding", ArrayType(DoubleType))))
      val queries = session.createDataFrame(
        java.util.List.of(Row(0L, qVec.toSeq)), qSchema)
      val vectors = session.read.parquet(reg.vectorsPath)
        .select(col(reg.vecId), col(reg.embCol).as("embedding"))
      val inner = LshForest.topK(
          queries, KnnIndexRegistry.buckets(session, reg), vectors,
          reg.model, k, metric, reg.searchK, vecId = reg.vecId)
        .select(col(reg.vecId), col("dist"))
      // optimizedPlan (not analyzed): hint resolution and the finish-
      // analysis batch already ran on the OUTER plan, so a spliced
      // analyzed subtree would carry ResolvedHint nodes nothing below
      // this point consumes.
      val innerPlan = inner.queryExecution.optimizedPlan
      val Seq(innerId, innerDist) = innerPlan.output
      // restore the original attribute ids/names in the original
      // projection order, then keep the original Sort + Limit on top —
      // they now order k rows instead of the corpus.
      val remapped = Project(proj.projectList.map { p =>
        if (p.exprId == distAlias.exprId)
          Alias(innerDist, distAlias.name)(exprId = distAlias.exprId)
        else Alias(innerId, idAttr.name)(exprId = idAttr.exprId)
      }, innerPlan)
      val kLit = Literal(k)
      Some(GlobalLimit(kLit,
        LocalLimit(kLit, Sort(orders, global = true, remapped, None))))
    } catch {
      case NonFatal(e) =>
        logWarning(s"knn index rewrite failed, keeping the naive plan: $e")
        None
    } finally KnnIndexRewrite.rewriting.set(false)
  }
}

object KnnIndexRewrite {
  /** Re-entrancy guard: building the replacement runs the index path's
    * own (small) jobs, whose plans must not be pattern-matched again. */
  private val rewriting = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  /** Install into a RUNNING session (idempotent) — the
    * `spark.experimental` route for sessions built without
    * `spark.sql.extensions=graft.GraftExtensions`. Checks BOTH injection
    * routes: a session built with the extension already runs the rule in
    * the operator-optimization batch, and adding a second copy through
    * `experimental` would double the pattern-match on every plan. */
  def install(s: SparkSession): Unit = synchronized {
    val viaExtension =
      try s.sessionState.optimizer.extendedOperatorOptimizationRules
        .exists(_.isInstanceOf[KnnIndexRewrite])
      catch { case scala.util.control.NonFatal(_) => false }
    val cur = s.experimental.extraOptimizations
    if (!viaExtension && !cur.exists(_.isInstanceOf[KnnIndexRewrite]))
      s.experimental.extraOptimizations = cur :+ new KnnIndexRewrite(s)
  }
}
