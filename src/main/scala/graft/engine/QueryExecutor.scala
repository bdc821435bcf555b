package graft.engine

import graft.core.SqlUtil
import graft.store.TableCatalog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.PlanExpression
import org.apache.spark.sql.catalyst.plans.logical.{Command, InsertIntoStatement, LogicalPlan, ParsedStatement, UnresolvedWith}
import scala.collection.concurrent.TrieMap

/** Rejected statements surface as 400s, not 500s. */
final class QueryRejectedException(msg: String) extends IllegalArgumentException(msg)

/** Executes a tenant's raw SQL against its catalog namespace.
  *
  * The reference forwards query text verbatim to a PER-DESTINATION
  * database (/root/reference/pkg/api/data.go:29-56 -> duckdb/query.go),
  * so one tenant can never name another tenant's tables. Spark child
  * sessions share one SparkContext and filesystem, so verbatim
  * passthrough would NOT isolate: `SELECT * FROM parquet.`/any/path``
  * reads arbitrary files and DDL hits the shared catalog. The executor
  * therefore gates the PARSED plan before execution:
  *
  *  - only query-shaped plans (no Command / DDL / INSERT / statement
  *    nodes anywhere in the tree) — the query endpoint is SELECT-only,
  *    a documented deviation from the reference's raw passthrough
  *    (table management happens via the insert API / catalog, as in
  *    the auto-schema model);
  *  - every referenced relation must be a single-part name that is one
  *    of the tenant's tables or a CTE defined in the query itself —
  *    path-based relations (`parquet.`...``), catalog-qualified names
  *    and other tenants' tables are rejected before analysis.
  *
  * Views are registered once per catalog version (TableCatalog bumps on
  * evolve/append/drop), not per query — no O(tables) metadata churn on
  * a hot read path.
  */
final class QueryExecutor(spark: SparkSession, catalog: TableCatalog) {
  private val sessions = TrieMap.empty[String, SparkSession]
  // db -> (catalog version the views were registered at, table names)
  private val registered = TrieMap.empty[String, (Long, Set[String])]

  /** Tenant child session: isolated temp views + its own
    * FunctionRegistry carrying the engine's extension functions
    * (fingerprint64, cosine_sim, minhash/simhash, scrub_pii, …) — the
    * reference's tenants get the destination's full function library
    * through the SQL endpoint (data.go:29-56 -> DuckDB), so ours do
    * too. */
  def sessionFor(db: String): SparkSession =
    sessions.getOrElseUpdate(db, {
      val s = spark.newSession()
      graft.functions.GraftFunctions.registerAll(s)
      s
    })

  /** Tenant session with views registered at the current catalog
    * version, plus the set of table names visible to the tenant. Tags
    * the calling thread with the tenant's FAIR scheduler pool: every
    * job this thread submits (including the encoder's result-wave jobs
    * while the response streams) lands in the tenant's pool, so one
    * tenant's heavy query cannot monopolize the shared context — pools
    * split task slots fairly while both are hungry. Needs
    * spark.scheduler.mode=FAIR on the context (Main sets it); under
    * the default FIFO mode the property is inert, so this is safe
    * unconditionally. The reference gets the same isolation from
    * per-destination DATABASES (destinations.go); one SparkContext
    * shares compute, so fairness must come from the scheduler. */
  private def preparedSession(db: String): (SparkSession, Set[String]) = {
    val s = sessionFor(db)
    s.sparkContext.setLocalProperty("spark.scheduler.pool", s"tenant_$db")
    val version = catalog.version(db)
    val tables = registered.get(db) match {
      case Some((v, t)) if v == version => t
      case _ =>
        catalog.registerViews(s, db)
        val t = catalog.listTables(db).map(_.toLowerCase).toSet
        registered.put(db, (version, t))
        t
    }
    (s, tables)
  }

  def execute(db: String, sql: String): DataFrame = {
    val (s, tables) = preparedSession(db)
    val trimmed = SqlUtil.trimQuery(sql)
    val parsed = s.sessionState.sqlParser.parsePlan(trimmed)
    validate(parsed, tables)
    s.sql(trimmed)
  }

  /** The tenant's prepared child session (views current, FAIR pool tag
    * set on the calling thread) — for analytics ops that read a
    * persisted per-tenant store rather than a table, so even a pure
    * store probe runs in the tenant's scheduler pool. */
  def tenantSession(db: String): SparkSession = preparedSession(db)._1

  /** One tenant table as a DataFrame — the entry point the analytics
    * endpoints use to hand a tenant's data to the operator library.
    * Same visibility rule as [[execute]]: only the tenant's own
    * catalog tables resolve; anything else is a 400-shaped rejection,
    * never a path or cross-tenant read. */
  def tenantTable(db: String, table: String): DataFrame = {
    val (s, tables) = preparedSession(db)
    val name = table.toLowerCase
    if (!tables.contains(name))
      throw new QueryRejectedException(s"unknown table: $name")
    s.table(name)
  }

  /** Walk the parsed tree INCLUDING subquery expressions (scalar / IN /
    * EXISTS / lateral subqueries hold nested plans inside expressions,
    * which `LogicalPlan.foreach` does not descend into). */
  private def walk(plan: LogicalPlan)(f: LogicalPlan => Unit): Unit = {
    plan.foreach { node =>
      f(node)
      node.expressions.foreach(_.foreach {
        case pe: PlanExpression[_] =>
          pe.plan match {
            case lp: LogicalPlan => walk(lp)(f)
            case _ => ()
          }
        case _ => ()
      })
    }
  }

  private def validate(parsed: LogicalPlan, tables: Set[String]): Unit = {
    var cteNames = Set.empty[String]
    walk(parsed) {
      // EXPLAIN <select> is read-only and useful — validate its child
      // query with the same rules instead of rejecting the command shell
      case e: org.apache.spark.sql.execution.command.ExplainCommand =>
        validate(e.logicalPlan, tables)
      case c: Command =>
        throw new QueryRejectedException(
          s"only SELECT queries are supported on the query endpoint (got ${c.nodeName})")
      case st: ParsedStatement =>
        throw new QueryRejectedException(
          s"only SELECT queries are supported on the query endpoint (got ${st.nodeName})")
      case _: InsertIntoStatement =>
        throw new QueryRejectedException(
          "only SELECT queries are supported on the query endpoint (got InsertIntoStatement)")
      case w: UnresolvedWith =>
        cteNames ++= w.cteRelations.map(_._1.toLowerCase)
      case _ => ()
    }
    walk(parsed) {
      case r: UnresolvedRelation =>
        val parts = r.multipartIdentifier
        val name = parts.map(_.toLowerCase).mkString(".")
        if (parts.size != 1 || (!tables.contains(name) && !cteNames.contains(name)))
          throw new QueryRejectedException(s"unknown table: $name")
      case _ => ()
    }
  }
}
