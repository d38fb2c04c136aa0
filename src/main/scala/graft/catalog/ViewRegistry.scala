package graft.catalog

import java.util.concurrent.{Callable, ConcurrentLinkedQueue,
  ExecutionException, Executors}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The reference's view-deployment lifecycle on Spark (SURVEY.md §3.1).
  *
  * m-lab/etl-schema deploys ~80 SQL views with a Go tool that (1) renders
  * `{{.ProjectID}}` templates (/root/reference/cmd/bq_create_view/
  * main.go:240-244), (2) regex-extracts referenced tables for dependency
  * ordering and ACLs (findTables, main.go:42-53), and (3) creates views in
  * strict dependency order because BigQuery validates each view body at
  * CREATE time (/root/reference/views/create_dataset_views.sh:35-157).
  *
  * Here the same lifecycle is native: templates render with plain
  * substitution, dependencies come from *parsing* the SQL and collecting
  * `UnresolvedRelation`s (strictly more robust than the reference's regex —
  * comments and string literals can't fool the parser), deployment order is
  * a topological sort, and Catalyst's analyzer performs the validation the
  * reference delegates to BigQuery.
  */
final case class ViewDef(name: String, sqlTemplate: String,
    description: String = "", dataset: String = "default",
    access: Seq[AccessEntry] = Nil) {

  /** Dataset-qualified name, the identity ACL grants use. */
  def qualifiedName: String =
    if (dataset == "default") name else s"$dataset.$name"
}

object ViewDef {

  /** Description from a SQL template's leading `--` comment lines — the
    * reference's awk contract (views/create_view_lib.sh:32-33:
    * `awk '/^--/ {print substr($0, 3)} /^SELECT/ {exit(0)}'`): every
    * line starting with `--` before the first line starting with SELECT,
    * with the `--` prefix (and one conventional following space)
    * stripped.
    */
  def descriptionFrom(sqlTemplate: String): String =
    sqlTemplate.linesIterator
      .takeWhile(!_.startsWith("SELECT"))
      .filter(_.startsWith("--"))
      .map(_.drop(2).stripPrefix(" "))
      .mkString("\n").trim

  /** A ViewDef whose description is extracted from the template itself. */
  def fromSql(name: String, sqlTemplate: String): ViewDef =
    ViewDef(name, sqlTemplate, descriptionFrom(sqlTemplate))
}

class ViewRegistry(spark: SparkSession) {

  /** Render `{{.Key}}` template variables (the reference's Go
    * text/template contract, views/README.md:17-19).
    */
  def render(template: String, vars: Map[String, String]): String =
    vars.foldLeft(template) { case (acc, (k, v)) =>
      acc.replace(s"{{.$k}}", v)
    }

  /** Table/view names referenced by a SQL text, from the parsed plan.
    * CTE aliases are subtracted (they are definitions, not dependencies).
    */
  def dependencies(sql: String): Set[String] = {
    val plan: LogicalPlan = spark.sessionState.sqlParser.parsePlan(sql)
    val cteNames = mutable.Set[String]()
    val refs = mutable.Set[String]()
    // CTE definition plans are innerChildren of UnresolvedWith, which
    // `foreach` does not traverse — walk them explicitly.
    def walk(p: LogicalPlan): Unit = p.foreach {
      case w: org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith =>
        w.cteRelations.foreach { case (name, cte, _) =>
          cteNames += name.toLowerCase
          walk(cte)
        }
      case r: UnresolvedRelation =>
        refs += r.multipartIdentifier.mkString(".").toLowerCase
      case other =>
        other.subqueries.foreach(walk) // scalar/EXISTS subqueries
    }
    walk(plan)
    refs.toSet -- cteNames
  }

  /** Topologically sort views by their dependencies *within the set*
    * (external tables are assumed present, as in the reference where raw
    * tables exist before any view deploys). Deterministic: ties break by
    * name. Throws on cycles.
    */
  def topoSort(views: Seq[ViewDef], vars: Map[String, String])
      : Seq[ViewDef] = {
    val byName = views.map(v => v.name.toLowerCase -> v).toMap
    val deps: Map[String, Set[String]] = views.map { v =>
      v.name.toLowerCase ->
        (dependencies(render(v.sqlTemplate, vars)) & byName.keySet)
    }.toMap
    val sorted = mutable.ArrayBuffer[ViewDef]()
    val done = mutable.Set[String]()
    val inProgress = mutable.Set[String]()
    def visit(n: String): Unit = {
      if (done(n)) return
      if (inProgress(n)) sys.error(s"view dependency cycle at $n")
      inProgress += n
      deps(n).toSeq.sorted.foreach(visit)
      inProgress -= n
      done += n
      sorted += byName(n)
    }
    views.map(_.name.toLowerCase).sorted.foreach(visit)
    sorted.toSeq
  }

  /** Deploy all views in dependency order as (replaceable) temp views.
    * Catalyst validates each body eagerly — the reference's "each view
    * must be created before being used in other view definitions"
    * invariant (schema/views_standardsql/README.md:20-22) holds by
    * construction. Returns the deployment order.
    */
  def deployAll(views: Seq[ViewDef], vars: Map[String, String] = Map.empty)
      : Seq[String] = {
    val ordered = topoSort(views, vars)
    ordered.foreach { v =>
      val body = render(v.sqlTemplate, vars)
      spark.sql(s"CREATE OR REPLACE TEMP VIEW ${v.name} AS $body")
    }
    ordered.map(_.name)
  }

  /** The reference's paired-variant convention — before/after A/B views
    * (/root/reference/views/website/
    * entry07_platform_decile_downloads_dedup_daily_{before,after}.sql:
    * same body, different pinned date windows and site regexes) and
    * dated regression pins (/root/reference/views/ndt/
    * unified_downloads_20201026x.sql:1-10): ONE template, several
    * coexisting views, each with its parameter bindings burned in at
    * definition time. Returns the expanded defs (deploy with
    * [[deployAll]]); the bindings are recorded in each description.
    */
  def pinnedVariants(base: ViewDef,
      variants: Seq[(String, Map[String, String])]): Seq[ViewDef] =
    variants.map { case (suffix, bind) =>
      base.copy(
        name = s"${base.name}_$suffix",
        sqlTemplate = render(base.sqlTemplate, bind),
        description = (base.description + s"\n[variant $suffix: " +
          bind.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }
            .mkString(", ") + "]").trim)
    }

  /** [[deployAllWithAccess]] for DATASET-QUALIFIED persistent views —
    * the named-manifest path ([[ReferenceViews]]): each view is created
    * as `<dataset>.<name>` in the session catalog (reference view names
    * like `ndt_raw.annotation2` and `msak_raw.annotation2` share bare
    * names across datasets, so temp views can't carry the surface).
    * The order is not re-derived: the reference's deploy script order
    * is the contract, and this method VERIFIES, over the whole manifest
    * and before any DDL, that it is dependency-valid (every in-set
    * reference comes earlier — BigQuery's create-time validation
    * invariant) instead of topo-sorting, failing fast on a violation.
    *
    * Each body is parsed once. The views are then created one
    * dependency level at a time through [[ViewRegistry.createLevels]]
    * (a view's level is 1 + the highest level among its in-set
    * dependencies), the views of a level concurrently, so
    * create-before-use holds per level: every view a body references
    * exists before its CREATE is issued. Each dataset gets one
    * `CREATE DATABASE IF NOT EXISTS`. The ACL sync of
    * [[deployAllWithAccess]] runs after every view exists,
    * sequentially on the calling thread in manifest order
    * ([[AclRegistry]] is not thread-safe), so the grants and their
    * order are those of a view-by-view deploy. A failed CREATE leaves
    * the ACL registry untouched.
    */
  def deployQualified(views: Seq[ViewDef], acl: AclRegistry,
      vars: Map[String, String] = Map.empty, user: String = "")
      : Seq[String] = {
    val planned = levelled(views, vars)
    val byQ = views.map(v => v.qualifiedName.toLowerCase -> v).toMap
    views.map(_.dataset).distinct
      .foreach(ds => spark.sql(s"CREATE DATABASE IF NOT EXISTS $ds"))
    ViewRegistry.createLevels(spark, planned.groupBy(_.level).toSeq
      .sortBy(_._1).map(_._2.map(p => p.view.qualifiedName -> p.body)))
    planned.foreach { p =>
      acl.syncDataset(p.view.dataset, user, p.view.access)
      p.deps.foreach { dep =>
        val target = byQ.get(dep).map(_.qualifiedName).getOrElse(dep)
        acl.syncDataset(acl.datasetOf(target))
        acl.syncViewAccess(p.view.qualifiedName, target)
      }
    }
    views.map(_.qualifiedName)
  }

  /** The views of [[deployQualified]] in the given order, each with its
    * rendered body, the names it references (parsed once, catalog
    * prefix stripped) and its dependency level: 1 + the highest level
    * among its in-set dependencies. Fails on an in-set reference to a
    * view that comes later (or to itself), before any DDL runs. */
  private[graft] def levelled(views: Seq[ViewDef],
      vars: Map[String, String]): Seq[ViewRegistry.Levelled] = {
    val catalog = spark.sessionState.catalogManager.currentCatalog.name
    val inSetNames = views.map(_.qualifiedName.toLowerCase).toSet
    val level = mutable.Map[String, Int]()
    views.map { v =>
      val body = render(v.sqlTemplate, vars)
      val deps = dependencies(body).map(_.stripPrefix(s"$catalog."))
      val inSet = deps & inSetNames
      val early = inSet -- level.keySet
      require(early.isEmpty, s"${v.qualifiedName} deploys before its " +
        s"dependencies: ${early.mkString(", ")} (order violates the " +
        "create-before-use invariant)")
      val l = 1 + inSet.iterator.map(level).maxOption.getOrElse(0)
      level(v.qualifiedName.toLowerCase) = l
      ViewRegistry.Levelled(v, body, deps, l)
    }
  }

  /** [[deployAll]] plus the reference's dataset-access sync
    * (main.go:132-223): per deployed view, its dataset is synced
    * (defaults + declared entries + deploying-user WRITER), and every
    * CROSS-dataset reference records an authorized-view grant on the
    * referenced dataset — the ACL shape BigQuery needs for a view to
    * read tables its callers can't. Pure metadata (grants land in
    * `acl`); Spark enforces nothing.
    */
  def deployAllWithAccess(views: Seq[ViewDef], acl: AclRegistry,
      vars: Map[String, String] = Map.empty, user: String = "")
      : Seq[String] = {
    val ordered = topoSort(views, vars)
    val byName = views.map(v => v.name.toLowerCase -> v).toMap
    ordered.foreach { v =>
      val body = render(v.sqlTemplate, vars)
      spark.sql(s"CREATE OR REPLACE TEMP VIEW ${v.name} AS $body")
      acl.syncDataset(v.dataset, user, v.access)
      dependencies(body).foreach { dep =>
        // in-set views are referenced by their registry name; external
        // tables carry their dataset in the qualified SQL name
        val target = byName.get(dep).map(_.qualifiedName).getOrElse(dep)
        // external datasets exist before any view deploys (reference
        // invariant) — register them on first reference
        acl.syncDataset(acl.datasetOf(target))
        acl.syncViewAccess(v.qualifiedName, target)
      }
    }
    ordered.map(_.name)
  }
}

object ViewRegistry {

  /** A manifest view ready to create: see [[ViewRegistry.levelled]]. */
  private[graft] final case class Levelled(view: ViewDef, body: String,
      deps: Set[String], level: Int)

  /** Name prefix of the threads [[createLevels]] creates views on. */
  private[graft] val DeployThreadName = "graft-view-deploy"

  /** Create persistent views, given as (qualified name, body), one
    * level at a time: the views of a level are created concurrently on
    * a driver-local pool sized from the driver's cores, and a level
    * starts only after every CREATE of the one before it has finished.
    * The caller orders the levels so that a body references views of
    * earlier levels only, and creates the datasets beforehand.
    *
    * If a CREATE fails, the other CREATEs of its level are still waited
    * for; the first failure in level order is then rethrown, the others
    * attached as suppressed, and no later level is started. The pool's
    * threads have all exited when this returns or throws.
    */
  def createLevels(spark: SparkSession,
      levels: Seq[Seq[(String, String)]]): Unit = {
    val widest = levels.map(_.size).maxOption.getOrElse(0)
    if (widest == 0) return
    val threads = new ConcurrentLinkedQueue[Thread]()
    val pool = Executors.newFixedThreadPool(
      math.min(widest, Runtime.getRuntime.availableProcessors),
      (r: Runnable) => {
        val t = new Thread(r, s"$DeployThreadName-${threads.size}")
        t.setDaemon(true)
        threads.add(t)
        t
      })
    try levels.foreach { level =>
      val tasks = level.map { case (name, body) =>
        new Callable[Unit] {
          def call(): Unit =
            spark.sql(s"CREATE OR REPLACE VIEW $name AS $body")
        }
      }
      val errors = pool.invokeAll(tasks.asJava).asScala.flatMap { f =>
        try { f.get(); None }
        catch {
          case e: ExecutionException => Some(e.getCause)
        }
      }
      errors.headOption.foreach { first =>
        errors.tail.foreach(first.addSuppressed)
        throw first
      }
    } finally {
      pool.shutdownNow()
      threads.forEach(_.join())
    }
  }
}
