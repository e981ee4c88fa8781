"""Public API: the Spark-native equivalent of the reference's SQL surface.

Reference entry point: ``SELECT * FROM cypher('graph', $$ ... $$) AS (...)``
(``sql/age_query.sql:49``, ``parser/cypher_analyze.c:383``). Ours:

    from age_spark import AgeSession
    age = AgeSession(spark)
    g = age.create_graph("g")
    g = age.load_vertices(g, "Person", df, id_col="pid")
    res = age.cypher(g, "MATCH (n:Person) RETURN n.name AS name", params={})
    res.df            # the result DataFrame (lazy — nothing ran yet)
    res.graph         # graph snapshot after any write clauses

``cypher()`` never collects: it compiles the query to a DataFrame and hands
it back; Catalyst plans it together with whatever the caller does next.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from .catalog import GraphMeta
from .cypher import parse_cypher
from .cypher.parser import CypherSyntaxError
from .compiler import compile_query
from .compiler.context import QueryContext
from .graph import Graph, create_graph


@dataclass
class CypherResult:
    df: DataFrame
    graph: Graph


# process-wide count of live AgeSessions that disabled the debugging cache:
# close() only restores the module-global when the LAST such session closes
# (two sessions in one process must not re-enable each other's 3-4x
# compile-cost path mid-flight)
_df_debugging_refcount = 0


def _disable_df_debugging(spark: SparkSession) -> None:
    """Turn off PySpark's per-operation call-site capture for this process.

    With ``spark.python.sql.dataFrameDebugging.enabled`` (default true in
    PySpark 4) every Column/DataFrame method pays ~4 extra py4j
    round-trips (conf read + JVM PySparkCurrentOrigin set/clear) purely to
    enrich error messages with the Python call site.  The Cypher compiler
    builds plans from thousands of fine-grained Column ops, so this is
    3-4x of its entire driver-side compile time (measured: g_join2_agg
    985 -> 265 py4j commands per compile).  Errors still carry the full
    Python traceback; only the JVM-side origin annotation is lost.

    This mutates PROCESS-WIDE state: the conf is static (runtime set
    raises CANNOT_MODIFY_STATIC_CONFIG), so the only lever is PySpark's
    module-global `_enable_debugging_cache`, which short-circuits the
    per-op conf read for ALL DataFrame code in the host process.  Opt out
    with AgeSession(..., disable_df_debugging=False) or
    SPARK_GRAFT_KEEP_DF_DEBUGGING=1; AgeSession.close() resets the cache
    (refcounted: only when the LAST disabling session closes) so the next
    DataFrame op re-reads the (unchanged) conf."""
    try:
        from pyspark.errors import utils as _pyspark_err_utils

        if not hasattr(_pyspark_err_utils, "_enable_debugging_cache"):
            # version drift: the private cache was renamed/removed — this
            # path silently loses the compile-time win, so make the drift
            # visible instead of no-opping quietly
            import warnings

            warnings.warn(
                "pyspark.errors.utils._enable_debugging_cache is gone in "
                "this PySpark version; DataFrame-debugging stays on and "
                "Cypher compile time will be ~3-4x slower",
                RuntimeWarning,
                stacklevel=2,
            )
        _pyspark_err_utils._enable_debugging_cache = False
    except Exception:
        pass


class AgeSession:
    def __init__(
        self,
        spark: SparkSession,
        mutable_graphs: bool = False,
        disable_df_debugging: bool = True,
    ):
        self.spark = spark
        self._df_debugging_disabled = disable_df_debugging and (
            os.environ.get("SPARK_GRAFT_KEEP_DF_DEBUGGING") != "1"
        )
        if self._df_debugging_disabled:
            global _df_debugging_refcount
            _df_debugging_refcount += 1
            _disable_df_debugging(spark)
        # reference GUC parity: age.enable_containment (cypher_match.sql:1082)
        self.enable_containment = True
        # The reference has ONE mutable graph per name; this engine returns
        # immutable snapshots from every write. mutable_graphs=True opts
        # into the reference's lifecycle: after each write the REPLACED
        # label tables' checkpoint blocks are released (the new tables are
        # eagerly checkpointed first, so they never depend on freed
        # blocks). Without it, a long write session pins one snapshot per
        # statement — fine for bounded pipelines, unbounded for REPL use.
        self.mutable_graphs = mutable_graphs
        # name -> latest Graph snapshot, the session's graph catalog; and
        # the loaded-context name set — the analogue of the reference's
        # global graph context (GGC, age_global_graph.c): contexts appear
        # when graph_stats()/vertex_stats() load a graph and disappear via
        # delete_global_graphs()
        self.graphs: dict[str, Graph] = {}
        self.ggc: set[str] = set()
        # Prepared-plan cache for PURE LAZY read queries (the PG plan-cache
        # analogue): per-graph (weakly keyed — a dead snapshot drops its
        # plans), keyed on (query text, graph._mutation_count) so in-place
        # loads/DDL self-invalidate.  NEVER caches results: every action on
        # a cached DataFrame recomputes from the base tables; eager-compile
        # queries (writes, CALL procedures, deep VLE) are excluded by
        # _plan_cacheable.  Bounded per graph.
        import weakref

        self._plan_cache: "weakref.WeakKeyDictionary[Graph, dict]" = (
            weakref.WeakKeyDictionary()
        )

    def close(self) -> None:
        """Undo the process-wide DataFrame-debugging disable from __init__:
        reset PySpark's module-global cache to its virgin state (None =
        re-read the static conf on next use, so call-site enrichment
        resumes).  Idempotent; the SparkSession itself is left running."""
        if not self._df_debugging_disabled:
            return
        self._df_debugging_disabled = False
        global _df_debugging_refcount
        _df_debugging_refcount = max(0, _df_debugging_refcount - 1)
        if _df_debugging_refcount > 0:
            return  # another live session still depends on the disable
        try:
            from pyspark.errors import utils as _pyspark_err_utils

            _pyspark_err_utils._enable_debugging_cache = None
        except Exception:
            pass

    # ---- DDL (graph_commands.c:47-299 parity)
    def create_graph(self, name: str) -> Graph:
        g = create_graph(self.spark, name)
        self.graphs[name] = g
        return g

    def load_graph(self, path: str) -> Graph:
        return Graph.load(self.spark, path)

    # ---- loaders (age_load.c parity, §2.1)
    def load_vertices(
        self, graph: Graph, label: str, df: DataFrame, id_col: Optional[str] = None
    ) -> Graph:
        graph.add_vertices(label, df, id_col=id_col)
        return graph

    def load_edges(
        self,
        graph: Graph,
        label: str,
        df: DataFrame,
        start_col: str = "start_id",
        end_col: str = "end_id",
        start_label: Optional[str] = None,
        end_label: Optional[str] = None,
        id_col: Optional[str] = None,
    ) -> Graph:
        graph.add_edges(
            label, df, start_col=start_col, end_col=end_col,
            start_label=start_label, end_label=end_label, id_col=id_col,
        )
        # user-supplied edge rows are not validated against the vertex
        # tables (reference parity: age_load.c:653 packs graphids without
        # an existence lookup) — disable integrity-based join pruning
        graph.integrity = False
        return graph

    def load_vertices_from_csv(
        self, graph: Graph, label: str, path: str, id_col: Optional[str] = None
    ) -> Graph:
        """CSV bulk load (load_labels_from_file, age_load.c:565): header row,
        schema inference on (typed columns beat agtype re-parsing). RFC-4180
        doubled-quote escapes, as in the reference's loader fixtures."""
        df = self.spark.read.csv(path, header=True, inferSchema=True, escape='"')
        return self.load_vertices(graph, label, df, id_col=id_col)

    def load_edges_from_csv(
        self,
        graph: Graph,
        label: str,
        path: str,
        start_label: str,
        end_label: str,
    ) -> Graph:
        """CSV edge load (load_edges_from_file, age_load.c:653). Expected
        columns: start_id, start_vertex_type, end_id, end_vertex_type, then
        properties (fixture format regress/age_load/data/edges.csv)."""
        df = self.spark.read.csv(path, header=True, inferSchema=True, escape='"')
        drop = [c for c in ("start_vertex_type", "end_vertex_type") if c in df.columns]
        if drop:
            df = df.drop(*drop)
        return self.load_edges(
            graph, label, df,
            start_col="start_id", end_col="end_id",
            start_label=start_label, end_label=end_label,
        )

    def load_labels_from_file(
        self,
        graph: Graph,
        label: str,
        path: Optional[str],
        id_field_exists: bool = True,
        load_as_agtype: bool = False,
        delimiter: str = ",",
    ) -> Graph:
        """Full-parity vertex CSV loader (load_labels_from_file,
        age_load.c:565): every column becomes a property, ``__id__`` = entry
        id is added, fields optionally re-parse as agtype scalars, and path
        safety / duplicate-id / row-width violations raise.  ``csv_base_dir``
        (session attribute) plays the reference's /tmp/age/ jail."""
        from .runtime.csv_load import load_labels_from_file as _load

        return _load(
            graph, label, path, id_field_exists, load_as_agtype, delimiter,
            base_dir=getattr(self, "csv_base_dir", None),
        )

    def load_edges_from_file(
        self,
        graph: Graph,
        label: str,
        path: Optional[str],
        load_as_agtype: bool = False,
        delimiter: str = ",",
    ) -> Graph:
        """Full-parity edge CSV loader (load_edges_from_file,
        age_load.c:653): endpoints resolve through (vertex_type, entry id)
        -> graphid packing; extra columns become properties."""
        from .runtime.csv_load import load_edges_from_file as _load

        return _load(
            graph, label, path, load_as_agtype, delimiter,
            base_dir=getattr(self, "csv_base_dir", None),
        )

    # ---- generators & subgraph (graph_generation.c:47/206, age_subgraph.sql:45)
    def create_complete_graph(
        self, graph: Graph, n: int, edge_label: str, vertex_label: Optional[str] = None
    ) -> Graph:
        from .generators import create_complete_graph

        return create_complete_graph(graph, n, edge_label, vertex_label)

    def create_barbell_graph(
        self, graph: Graph, n: int, bridge_size: int, edge_label: str,
        vertex_label: Optional[str] = None,
    ) -> Graph:
        from .generators import create_barbell_graph

        return create_barbell_graph(graph, n, bridge_size, edge_label, vertex_label)

    def create_subgraph(
        self, from_graph: Graph, new_name: str, **kwargs
    ) -> Graph:
        from .generators import create_subgraph

        return create_subgraph(from_graph, new_name, **kwargs)

    def create_subgraph_filtered(
        self,
        from_graph: Graph,
        new_name: str,
        vertex_filter: str = "*",
        edge_filter: str = "*",
    ) -> Graph:
        """create_subgraph('dst', 'src', vertex_filter, edge_filter)
        (sql/age_subgraph.sql — regress/sql/subgraph.sql): the filters are
        Cypher predicate STRINGS over `n` (vertices) and `r` (edges), '*'
        meaning all.  Each filter compiles through the full Cypher
        expression surface into a kept-id set; edges additionally keep the
        induced rule (both endpoints must survive)."""
        from .catalog import CatalogError
        from .generators import create_subgraph

        if new_name is None:
            raise CatalogError("new graph name must not be NULL")
        if new_name in self.graphs:
            raise CatalogError(f'graph "{new_name}" already exists')
        vids = eids = None
        if vertex_filter not in (None, "*"):
            vids = self.cypher(
                from_graph, f"MATCH (n) WHERE {vertex_filter} RETURN id(n) AS id"
            ).df
        if edge_filter not in (None, "*"):
            eids = self.cypher(
                from_graph, f"MATCH ()-[r]->() WHERE {edge_filter} RETURN id(r) AS id"
            ).df
        g = create_subgraph(from_graph, new_name, vertex_ids=vids, edge_ids=eids)
        self.graphs[new_name] = g
        return g

    def drop_graph(self, name: Optional[str], cascade: bool = False) -> None:
        """drop_graph(name, cascade) — graph_commands.c:192-221.  A graph's
        namespace always holds its label tables (the default
        _ag_label_vertex/_ag_label_edge parents at minimum,
        label_commands.c:205-209), so ``cascade=False`` REFUSES like PG's
        DROP_RESTRICT on the schema (catalog.out:68-74 'cannot drop schema
        ... because other objects depend on it'); ``cascade=True`` drops the
        graph with its labels and evicts the session caches."""
        from .catalog import CatalogError

        if name is None:
            raise CatalogError("graph name can not be NULL")
        g = self.graphs.get(name)
        if g is None:
            raise CatalogError(f'graph "{name}" does not exist')
        if not cascade:
            deps = ["_ag_label_vertex", "_ag_label_edge"] + sorted(
                set(g.vertex_dfs) | set(g.edge_dfs)
            )
            detail = "\n".join(
                f"table {name}.{t} depends on schema {name}" for t in deps
            )
            raise CatalogError(
                f"cannot drop schema {name} because other objects depend on "
                f"it\n{detail}\nHINT: Use DROP ... CASCADE to drop the "
                "dependent objects too."
            )
        del self.graphs[name]
        self.ggc.discard(name)

    def alter_graph(
        self,
        graph_name: Optional[str],
        operation: Optional[str],
        new_value: Optional[str],
    ) -> Graph:
        """alter_graph(name, operation, new_value) — graph_commands.c:299.
        Only RENAME is supported (case-insensitive operation; names case
        sensitive).  Mirrors the reference's errors: NULL arguments, unknown
        operation, missing graph (catalog.out:174 'graph "graphx" does not
        exist'), name collision (catalog.out:176 'schema "GraphB" already
        exists'), invalid new name.  Returns the renamed Graph (same data,
        same label-id space)."""
        from .catalog import CatalogError

        if graph_name is None:
            raise CatalogError("graph_name must not be NULL")
        if operation is None:
            raise CatalogError("operation must not be NULL")
        if new_value is None:
            raise CatalogError("new_value must not be NULL")
        if operation.casefold() != "rename":
            raise CatalogError(
                f'invalid operation "{operation}"\nHINT: valid operations: RENAME'
            )
        g = self.graphs.get(graph_name)
        if g is None:
            raise CatalogError(f'graph "{graph_name}" does not exist')
        if new_value in self.graphs:
            raise CatalogError(f'schema "{new_value}" already exists')
        try:
            meta = g.meta.renamed(new_value)
        except CatalogError:
            raise CatalogError("new graph name is invalid")
        ng = Graph(self.spark, meta, g.vertex_dfs, g.edge_dfs)
        del self.graphs[graph_name]
        self.graphs[new_value] = ng
        if graph_name in self.ggc:
            self.ggc.discard(graph_name)
            self.ggc.add(new_value)
        return ng

    # ---- query
    @staticmethod
    def _plan_cacheable(ast) -> bool:
        """True when the compiled DataFrame is a PURE LAZY read plan —
        safe to reuse as a prepared plan because every action recomputes
        from the base tables.  Excluded: write clauses (snapshot side
        effects), CALL procedures and the shortest-path functions (their
        compilation runs eager BFS/iteration jobs whose localCheckpoints
        would pin RESULTS, not plans), and VLE hops deeper than 4 (the
        per-hop lazy-checkpoint regime materializes traversal state on
        first action).  Conservative: anything unrecognized stays
        uncached."""
        from .cypher import ast as A
        from .compiler.patterns import ast_strings

        import dataclasses

        for part in ast.parts:
            for cl in part.clauses:
                if isinstance(
                    cl, (A.Create, A.SetClause, A.RemoveClause, A.Delete, A.Merge, A.CallProc)
                ):
                    return False
        # deep/unbounded VLE anywhere (top-level patterns, EXISTS/COUNT
        # subqueries, pattern predicates): generic walk over the AST
        stack = [ast]
        while stack:
            x = stack.pop()
            if isinstance(x, A.RelPattern):
                if x.varlen is not None and (x.varlen[1] is None or x.varlen[1] > 4):
                    return False
            if dataclasses.is_dataclass(x) and not isinstance(x, type):
                for f in dataclasses.fields(x):
                    stack.append(getattr(x, f.name))
            elif isinstance(x, (list, tuple)):
                stack.extend(x)
            elif isinstance(x, dict):
                stack.extend(x.values())
        # scalar shortest-path functions compile to eager BFS; the GGC
        # functions mutate/read session state AT COMPILE TIME
        # (delete_global_graphs folds to a literal of "was it loaded",
        # graph_stats/vertex_stats register the context) — a cache hit
        # would skip the statement-time side effect (caught by the
        # age_global_graph replay suite)
        return not (
            ast_strings(ast)
            & {
                "shortest_path",
                "all_shortest_paths",
                "graph_stats",
                "vertex_stats",
                "delete_global_graphs",
            }
        )

    def cypher(self, graph: Graph, query: str, params: Optional[dict] = None,
               use_plan_cache: bool = True) -> CypherResult:
        # EXPLAIN prefix (cypher_gram.y:376-423): return the Catalyst plan
        # as rows, like the reference surfaces PG's EXPLAIN output
        stripped = query.lstrip()
        if stripped[:7].lower() == "explain" and (
            len(stripped) == 7 or stripped[7].isspace() or stripped[7] == "("
        ):
            rest = stripped[7:].lstrip()
            if rest.startswith("("):
                # PG explain options ((COSTS OFF), (FORMAT ...), ...) don't
                # map to Catalyst's formatted plan — accepted and ignored
                close = rest.find(")")
                if close < 0:
                    raise CypherSyntaxError("unterminated EXPLAIN options")
                rest = rest[close + 1:]
            plan = self.explain(graph, rest, params)
            rows = [(ln,) for ln in plan.splitlines()]
            df = self.spark.createDataFrame(rows, "`QUERY PLAN` string")
            return CypherResult(df=df, graph=graph)
        return self._run(graph, query, parse_cypher(query), params, use_plan_cache)

    def _run(self, graph: Graph, query: str, ast, params: Optional[dict],
             use_plan_cache: bool = True) -> CypherResult:
        """Compile and bind a parsed statement: the plan cache, the
        session-aware QueryContext, the mutable-graph release and the
        catalog follow — the one path behind cypher() and prepare()."""
        cache_key = None
        if not params and use_plan_cache:
            try:
                per_graph = self._plan_cache.get(graph)
            except TypeError:  # unhashable/weakref-less graph stand-ins
                per_graph = None
            else:
                if self._plan_cacheable(ast):
                    cache_key = (query, graph._mutation_count)
                    if per_graph is not None:
                        hit = per_graph.get(cache_key)
                        if hit is not None:
                            return CypherResult(df=hit, graph=graph)
        ctx = QueryContext(
            spark=self.spark, graph=graph, params=params,
            enable_containment=self.enable_containment, session=self,
        )
        df, ctx = compile_query(ctx, ast)
        if cache_key is not None and ctx.graph is graph:
            try:
                per_graph = self._plan_cache.setdefault(graph, {})
            except TypeError:
                pass
            else:
                if len(per_graph) >= 128:
                    per_graph.clear()
                per_graph[cache_key] = df
        if self.mutable_graphs and ctx.graph is not graph:
            if len(df.columns) > 0:
                # a write with RETURN executes NOW (the reference runs each
                # statement eagerly too) so freeing the superseded blocks
                # cannot invalidate the pending result
                df = df.localCheckpoint(eager=True)
            _release_superseded(graph, ctx.graph)
        if ctx.graph is not graph:
            # keep the session catalog pointing at the latest snapshot
            # (every alias of the input graph follows the write)
            for k, v in self.graphs.items():
                if v is graph:
                    self.graphs[k] = ctx.graph
        return CypherResult(df=df, graph=ctx.graph)

    def register_views(self, graph: Graph, prefix: Optional[str] = None) -> list[str]:
        """Expose the graph's unified scans as SQL temp views
        (`<graph>_vertices` / `<graph>_edges`) so Cypher and spark.sql can
        mix over the same snapshot."""
        p = prefix or graph.name
        names = [f"{p}_vertices", f"{p}_edges"]
        graph.scan_vertices(None).createOrReplaceTempView(names[0])
        graph.scan_edges(None).createOrReplaceTempView(names[1])
        return names

    def prepare(self, graph: Graph, stmt: str):
        """age_prepare_cypher parity (age_session_info.c:30): parse once,
        bind $params per execution through cypher()'s compile path."""
        ast = parse_cypher(stmt)

        def run(params: Optional[dict] = None) -> CypherResult:
            return self._run(graph, stmt, ast, params)

        return run

    @staticmethod
    def get_cypher_keywords() -> list[str]:
        """get_cypher_keywords parity (parser/cypher_keywords.c:53)."""
        from .cypher.parser import KEYWORDS

        return sorted(KEYWORDS)

    def explain(self, graph: Graph, query: str, params: Optional[dict] = None) -> str:
        """EXPLAIN parity (cypher_gram.y:376-423): the physical plan is
        Catalyst's, so EXPLAIN is the DataFrame's formatted plan."""
        # EXPLAIN must reflect the CURRENT compilation environment, not a
        # previously cached (possibly executed) plan — bypass the plan cache
        res = self.cypher(graph, query, params, use_plan_cache=False)
        return res.df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
            res.df._jdf.queryExecution(), "formatted"
        )


def _release_superseded(old: Graph, new: Graph) -> None:
    """Mutable-graph lifecycle: pin the new snapshot's replaced tables as
    their own eager checkpoints, then free the superseded tables' blocks.
    Only REPLACED labels are touched — unreplaced tables are shared with
    the new snapshot and stay live."""
    from .runtime.cache import checkpoint_rdd_ids, release_plan_checkpoints

    # two phases: a replaced table's plan can read ANY superseded table
    # (a SET over `MATCH (n)` derives every label's new table from the
    # all-label union scan), so every replacement must be pinned before
    # the first superseded block is freed
    superseded = []
    for kind in ("vertex_dfs", "edge_dfs"):
        od = getattr(old, kind)
        nd = getattr(new, kind)
        for label, tab in list(nd.items()):
            prev = od.get(label)
            if prev is None or prev is tab:
                continue
            nd[label] = tab.localCheckpoint(eager=True)
            superseded.append(prev)
    # a checkpoint leaf can be SHARED between a superseded table and a
    # still-live un-replaced one (one CREATE statement materializes several
    # label tables from a single checkpointed input) — protect every leaf
    # the new snapshot still reads
    protected: set[int] = set()
    for kind in ("vertex_dfs", "edge_dfs"):
        for tab in getattr(new, kind).values():
            protected.update(checkpoint_rdd_ids(tab))
    for prev in superseded:
        release_plan_checkpoints(prev, protected_ids=protected)
