"""Write clauses: CREATE / SET / REMOVE / DELETE / MERGE.

The reference implements these as CustomScan plan nodes inserting/updating
heap tuples per input row (``src/backend/executor/cypher_create.c`` etc.,
SURVEY §2.7). In Spark's batch model each write clause is a **snapshot
transformation**: it produces (a) the clause's result DataFrame (with created
entities bound, so later clauses and RETURN see them) and (b) a new Graph
snapshot with updated per-label tables. Clause-by-clause snapshotting gives
the reference's read-your-writes (CID) semantics without tuple visibility
machinery.

ID allocation (``executor/cypher_create.c:154``: ids from per-label
sequences): we reserve a contiguous range from the label's catalog sequence
sized by the clause's input row count, then number rows densely with a
zipWithIndex pass — one action per write clause, ids deterministic.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import ENTRY_ID_BITS
from ..cypher import ast as A
from ..compiler.context import (
    EDGE,
    SCALAR,
    VERTEX,
    Binding,
    CompileError,
    Env,
    QueryContext,
)
from ..compiler.exprs import ExprScope, compile_expr
from ..graph import union_by_merged_schema

from ..catalog import DEFAULT_ELABEL, DEFAULT_VLABEL  # label_commands.h:25-26

_ROWID = "_rowid"


def _unit_df(ctx: QueryContext) -> DataFrame:
    return ctx.spark.range(1).select(F.lit(0).alias("_unit"))


def _eval_props(ctx: QueryContext, df: DataFrame, env: Env, props) -> list[tuple[str, Column]]:
    if props is None:
        return []
    if isinstance(props, A.ExactProps):
        # `=` exact-constraint wrapper changes MATCH semantics only; the
        # CREATE side of a MERGE evaluates the same map
        props = props.inner
    scope = ExprScope(ctx, df, env)
    if isinstance(props, A.Param):
        pval = ctx.params.get(props.name)
        if not isinstance(pval, dict):
            raise CompileError(f"property parameter ${props.name} must be a map")
        from ..compiler.exprs import literal_to_column
        return [(k, literal_to_column(v)) for k, v in pval.items()]
    if isinstance(props, A.MapLit):
        dedup: dict = {}
        for k, v in props.items:
            dedup[k] = v  # duplicate keys: last wins (jsonb semantics)
        return [(k, compile_expr(scope, v)) for k, v in dedup.items()]
    raise CompileError("unsupported properties expression in pattern")


def compile_create(ctx: QueryContext, st, clause: A.Create):
    from ..compiler.clauses import State

    df = st.df if st.df is not None else _unit_df(ctx)
    env = st.env
    from ..graph import DENSE_ROW_COL, dense_row_numbers

    numbered, n_rows = dense_row_numbers(df)
    df = numbered.withColumnRenamed(DENSE_ROW_COL, _ROWID)
    graph = ctx.graph

    new_vertex_rows: dict[str, list[DataFrame]] = {}
    new_edge_rows: dict[str, list[DataFrame]] = {}
    created_here: set[str] = set()  # vars CREATEd by this statement — they
    # cannot have been deleted, so the deleted-endpoint probe skips them

    named_paths: list[tuple[str, list[str], list[str]]] = []
    for path in clause.patterns:
        elems = path.elements
        # bind/create first node
        prev_var, df, env = _create_node(
            ctx, graph, df, env, elems[0], n_rows, new_vertex_rows,
            standalone=len(elems) == 1, created=created_here,
        )
        nvars, evars = [prev_var], []
        i = 1
        while i < len(elems):
            rel: A.RelPattern = elems[i]
            node: A.NodePattern = elems[i + 1]
            # label ids allocate in pattern TEXTUAL order — (n)-[e]->(m)
            # registers e before m (cypher_delete.out id expectations)
            if rel.types:
                graph.create_elabel(rel.types[0])
            nxt_var, df, env = _create_node(
                ctx, graph, df, env, node, n_rows, new_vertex_rows,
                created=created_here,
            )
            ename, df, env = _create_edge(
                ctx, graph, df, env, rel, prev_var, nxt_var, n_rows,
                new_edge_rows, created=created_here,
            )
            nvars.append(nxt_var)
            evars.append(ename)
            prev_var = nxt_var
            i += 2
        if path.var is not None:
            if env.get(path.var) is not None:
                raise CompileError(
                    f"variable `{path.var}` already bound — cannot name a path"
                )
            named_paths.append((path.var, nvars, evars))

    # build the new snapshot
    vupd, eupd = {}, {}
    for label, parts in new_vertex_rows.items():
        base = graph.vertex_dfs.get(label)
        allparts = ([base] if base is not None and "id" in base.columns and len(base.columns) > 0 else []) + parts
        vupd[label] = _bounded_snapshot(union_by_merged_schema(allparts))
    for label, parts in new_edge_rows.items():
        base = graph.edge_dfs.get(label)
        allparts = ([base] if base is not None else []) + parts
        eupd[label] = _bounded_snapshot(union_by_merged_schema(allparts))
    newgraph = graph.snapshot(vertex_dfs=vupd, edge_dfs=eupd)

    if named_paths:
        # CREATE p=(...) — materialize the path value from the created
        # entities, normalized to the POST-create merged property schema
        from ..compiler.context import PATH, Binding as _Binding
        from ..compiler.patterns import normalize_edge, normalize_vertex

        ctx2 = ctx.with_graph(newgraph)
        for pvar, nvars, evars in named_paths:
            node_cols = [
                normalize_vertex(ctx2, F.col(v), df.select(F.col(v)).schema[0].dataType)
                for v in nvars
            ]
            edge_cols = [
                normalize_edge(ctx2, F.col(e), df.select(F.col(e)).schema[0].dataType)
                for e in evars
            ]
            path_col = F.struct(
                F.array(*node_cols).alias("nodes"),
                (
                    F.array(*edge_cols)
                    if edge_cols
                    else F.lit(None).cast("array<string>")
                ).alias("edges"),
            )
            df = df.withColumn(pvar, path_col)
            env = env.bind(_Binding(pvar, PATH))

    df = df.drop(_ROWID)
    return State(df, env), ctx.with_graph(newgraph)


def _bounded_snapshot(df: DataFrame) -> DataFrame:
    """Checkpoint a post-write label table with a BOUNDED partition count.

    A union snapshot has the sum of its branches' partitions, so a chain of
    write statements (every regression fixture; any ETL session) grows the
    partition count linearly — by statement 50 each action schedules
    thousands of near-empty tasks. Coalesce (narrow, no shuffle) back to
    the session's shuffle parallelism before the checkpoint; tables already
    at or below the bound are untouched, so large parquet-backed graphs
    keep their scan parallelism."""
    try:
        bound = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        bound = 64
    # coalesce never INCREASES partitions, so this is a no-op for tables
    # already at or below the bound — no getNumPartitions probe needed
    return df.coalesce(bound).localCheckpoint(eager=False)


def _create_node(ctx, graph, df, env, node: A.NodePattern, n_rows, sink,
                 standalone=False, created=None):
    name = node.var or ctx.fresh()
    b = env.get(name)
    if b is not None:
        # transform_cypher_create parity (regress/sql/cypher_create.sql):
        # a bound variable may only appear as an ENDPOINT of an
        # edge-containing path ("CREATE (a)-[:e]->(b)"); a standalone
        # re-declaration, or reuse of a non-vertex binding, errors
        if standalone or b.kind != VERTEX:
            raise CompileError(f"variable {name} already exists")
        if b.deleted:
            raise CompileError(f"vertex assigned to variable {name} was deleted")
        if node.props or (
            node.labels and tuple(node.labels) != tuple(b.labels or ())
        ):
            # restating the SAME label is fine (`MERGE (x:P)-[:E]->(x:P)`,
            # cypher_merge.sql); a different one is a relabel error
            raise CompileError(f"variable `{name}` already bound; CREATE cannot relabel it")
        return name, df, env
    label = node.labels[0] if node.labels else DEFAULT_VLABEL
    meta = graph.create_vlabel(label) or graph.meta.label(label)
    first = meta.allocate(max(n_rows, 1))
    shift = meta.label_id << ENTRY_ID_BITS
    idcol = (F.lit(shift).cast("long") + F.lit(first) + F.col(_ROWID)).alias("id")
    props = _eval_props(ctx, df, env, node.props)
    struct_fields = [idcol.alias("id"), F.lit(label).alias("label")]
    if props:
        struct_fields.append(F.struct(*[c.alias(k) for k, c in props]).alias("properties"))
    else:
        struct_fields.append(
            F.struct(F.lit(None).cast("string").alias("_none")).alias("properties")
        )
    df = df.withColumn(name, F.struct(*struct_fields))
    if created is not None:
        created.add(name)
    # rows to append to the label table (flat columns; reserved-named
    # properties store escaped — graph.prop_store_name)
    from ..graph import VERTEX_RESERVED, prop_store_name

    row_cols = [F.col(name).getField("id").alias("id")] + [
        F.col(name).getField("properties").getField(k).alias(prop_store_name(k, VERTEX_RESERVED))
        for k, _ in props
    ]
    sink.setdefault(label, []).append(df.select(*row_cols))
    env = env.bind(Binding(name, VERTEX, (label,), hidden=node.var is None))
    return name, df, env


def _create_edge(ctx, graph, df, env, rel: A.RelPattern, a: str, b: str,
                 n_rows, sink, created=None):
    # returns (edge_var, df, env)
    if rel.direction == "both":
        raise CompileError("CREATE requires a directed relationship")
    if rel.varlen is not None:
        raise CompileError("CREATE cannot use variable-length relationships")
    name = rel.var or ctx.fresh()
    if env.get(name) is not None:
        raise CompileError(f"edge variable `{name}` already bound")
    if not rel.types:
        # cypher_create.out:118 — unlike vertices (default label), edges
        # must name their label in CREATE
        raise CompileError("relationships must be specify a label in CREATE")
    label = rel.types[0]
    meta = graph.create_elabel(label) or graph.meta.label(label)
    first = meta.allocate(max(n_rows, 1))
    shift = meta.label_id << ENTRY_ID_BITS
    idcol = F.lit(shift).cast("long") + F.lit(first) + F.col(_ROWID)
    if rel.direction == "out":
        s, d = a, b
    else:
        s, d = b, a
    # runtime deleted-endpoint check (cypher_delete.out:288 "vertex assigned
    # to variable m was deleted"): a DELETE earlier in this statement may
    # have removed the vertex a pre-bound endpoint variable points at in
    # SOME rows (`MATCH (n)-[e]->(m) DETACH DELETE n CREATE (m)-...`: m's
    # vertex can be deleted through n).  Only statements that actually
    # deleted something pay the validation action.
    if any(bb.deleted for bb in env.bindings.values()):
        check_eps = [
            ep
            for ep in dict.fromkeys((s, d))
            if env.get(ep) is not None and not env.get(ep).deleted
            # deleted-by-name errors in _create_node already; vertices
            # created by THIS statement cannot have been deleted
            and ep not in (created or ())
        ]
        if check_eps:
            live = [t.select("id") for t in graph.vertex_dfs.values()]
            if not live:
                raise CompileError(
                    f"vertex assigned to variable {check_eps[0]} was deleted"
                )
            alive = live[0]
            for t in live[1:]:
                alive = alive.unionByName(t)
            # OPTIONAL MATCH rows carry NULL endpoint structs; a NULL id is
            # an absent binding, not a deleted vertex — drop those rows
            # before the anti-join.  Both endpoints probe in ONE action.
            probes = None
            for ep in check_eps:
                p = df.select(
                    F.col(ep).getField("id").alias("_eid"), F.lit(ep).alias("_evar")
                ).where(F.col("_eid").isNotNull())
                probes = p if probes is None else probes.unionByName(p)
            gone = probes.join(alive, probes["_eid"] == alive["id"], "left_anti")
            bad_vars = {r["_evar"] for r in gone.select("_evar").distinct().collect()}
            for ep in check_eps:  # deterministic variable in the message
                if ep in bad_vars:
                    raise CompileError(f"vertex assigned to variable {ep} was deleted")
    props = _eval_props(ctx, df, env, rel.props)
    struct_fields = [
        idcol.alias("id"),
        F.col(s).getField("id").alias("start_id"),
        F.col(d).getField("id").alias("end_id"),
        F.lit(label).alias("label"),
    ]
    if props:
        struct_fields.append(F.struct(*[c.alias(k) for k, c in props]).alias("properties"))
    else:
        struct_fields.append(
            F.struct(F.lit(None).cast("string").alias("_none")).alias("properties")
        )
    df = df.withColumn(name, F.struct(*struct_fields))
    from ..graph import EDGE_RESERVED, prop_store_name

    row_cols = [
        F.col(name).getField("id").alias("id"),
        F.col(name).getField("start_id").alias("start_id"),
        F.col(name).getField("end_id").alias("end_id"),
    ] + [
        F.col(name).getField("properties").getField(k).alias(prop_store_name(k, EDGE_RESERVED))
        for k, _ in props
    ]
    sink.setdefault(label, []).append(df.select(*row_cols))
    env = env.bind(Binding(name, EDGE, (label,), hidden=rel.var is None))
    return name, df, env


# --------------------------------------------------------------------- SET


def _set_target_kind(env, df, var):
    """Kind (VERTEX/EDGE) and labels of a SET/REMOVE target.  Besides
    pattern-bound entities, an entity that traveled through projection as a
    plain value (``WITH nodes(p)[0] AS n SET n.k = 99``,
    regress/sql/cypher_set.sql) is addressable by its struct shape — the
    reference re-resolves the entity from its graphid at update time
    (cypher_set.c:286)."""
    b = env.require(var)
    if b.kind in (VERTEX, EDGE):
        return b.kind, tuple(b.labels or ())
    dt = df.schema[var].dataType if var in df.columns else None
    if isinstance(dt, T.StructType):
        names = {f.name for f in dt.fields}
        if {"id", "start_id", "end_id", "properties"} <= names:
            return EDGE, ()
        if {"id", "label", "properties"} <= names:
            return VERTEX, ()
    raise CompileError(f"SET target `{var}` is not an entity")


def _map_expr_kvs(scope, df, expr) -> list[tuple[str, Column]]:
    """Expand a map-valued SET source expression into (key, Column) pairs.
    Entity sources contribute their properties struct."""
    from ..graph import prop_display_name

    c = compile_expr(scope, expr)
    dt = df.select(c.alias("_v")).schema["_v"].dataType
    if isinstance(dt, T.StructType) and {"id", "properties"} <= {f.name for f in dt.fields}:
        c = c.getField("properties")
        dt = next(f.dataType for f in dt.fields if f.name == "properties")
    if not isinstance(dt, T.StructType):
        raise CompileError("SET n = / += requires a map value")
    return [
        (prop_display_name(f.name), c.getField(f.name))
        for f in dt.fields
        if f.name != "_none"
    ]


def compile_set(ctx: QueryContext, st, items: list[A.SetItem]):
    """SET n.p = expr / SET n += map / SET n = map; NULL value removes the
    key (``executor/cypher_set.c:99 update_entity_tuple``). Updates both the
    label tables (new snapshot) and the in-flight variable struct (the
    reference re-points in-flight variables, ``cypher_set.c:286-400``)."""
    from ..compiler.clauses import State

    df, env = st.df, st.env
    if df is None:
        raise CompileError("SET requires bound variables")
    graph = ctx.graph

    # SET values may be pattern expressions / EXISTS subqueries
    # (pattern_expression.sql `SET a.is_social = (a)-[:KNOWS]->(:Person)`):
    # lift them into helper columns first
    from ..compiler.clauses import lift_subqueries

    lifted = []
    st_l = State(df, env)
    for it in items:
        ne = it.expr
        if ne is not None:
            st_l, ne = lift_subqueries(ctx, st_l, ne)
        lifted.append(A.SetItem(it.kind, it.var, it.key, ne))
    df, env = st_l.df, st_l.env
    items = lifted

    per_var: dict[str, list[tuple[str, Column]]] = {}
    scope = ExprScope(ctx, df, env)
    for it in items:
        _set_target_kind(env, df, it.var)  # validate early
        if it.kind == "prop":
            per_var.setdefault(it.var, []).append((it.key, compile_expr(scope, it.expr)))
        elif it.kind in ("replace", "merge"):
            if isinstance(it.expr, A.MapLit):
                kvs = [(k, compile_expr(scope, v)) for k, v in it.expr.items]
            else:
                # SET n = properties(m) / SET n = m / SET n = <map-valued
                # expr> (cypher_set.c accepts any map-evaluating expression;
                # regress/sql/cypher_set.sql "SET at = properties(pn)"):
                # the value's struct schema is static, so expand per field
                kvs = _map_expr_kvs(scope, df, it.expr)
            if it.kind == "replace":
                per_var.setdefault(it.var, []).append(("__replace__", F.lit(True)))
            per_var.setdefault(it.var, []).extend(kvs)
            per_var.setdefault(it.var, [])

    vupd: dict[str, DataFrame] = {}
    eupd: dict[str, DataFrame] = {}
    for var, kvs in per_var.items():
        tkind, tlabels = _set_target_kind(env, df, var)
        replace_all = any(k == "__replace__" for k, _ in kvs)
        kvs = [(k, c) for k, c in kvs if k != "__replace__"]
        if not kvs and not replace_all:
            continue  # SET n += {} is a no-op (cypher_set.sql)
        # Last-update-wins must be deterministic: F.last() depends on the
        # partial-agg merge order, so pick the winner by an explicit row id
        # (partition-major order) via max_by — merge-order independent.
        if kvs:
            upd = df.select(
                F.col(var).getField("id").alias("_uid"),
                F.monotonically_increasing_id().alias("_rowid"),
                *[c.alias(f"_nv_{k}") for k, c in kvs],
            ).groupBy("_uid").agg(
                *[F.max_by(f"_nv_{k}", "_rowid").alias(f"_nv_{k}") for k, _ in kvs]
            )
        else:  # SET n = {}: clear all properties of the matched ids
            upd = df.select(F.col(var).getField("id").alias("_uid")).distinct()

        tables = graph.vertex_dfs if tkind == VERTEX else graph.edge_dfs
        labels = list(tlabels) if tlabels else list(tables.keys())
        upd_schema = {f.name: f.dataType for f in upd.schema.fields}
        for label in labels:
            base = tables[label]
            joined = base.join(upd.withColumnRenamed("_uid", "_uid2"), base["id"] == F.col("_uid2"), "left")
            matched = F.col("_uid2").isNotNull()
            reserved = ("id",) if tkind == VERTEX else ("id", "start_id", "end_id")
            from ..graph import prop_store_name

            # SET keys address label-table columns by their STORED name
            # (reserved-named properties are escaped, graph.prop_store_name)
            stored_kvs = {prop_store_name(k, reserved): k for k, _ in kvs}
            out_cols = []
            existing = [f.name for f in base.schema.fields]
            new_keys = [
                k for k, _ in kvs if prop_store_name(k, reserved) not in existing
            ]
            for cname in existing:
                if cname in reserved:
                    out_cols.append(F.col(cname))
                    continue
                if replace_all and cname not in stored_kvs:
                    out_cols.append(
                        F.when(matched, F.lit(None)).otherwise(F.col(cname)).alias(cname)
                    )
                elif cname in stored_kvs:
                    from ..graph import is_tagged_type, tag_column

                    k = stored_kvs[cname]
                    nv = F.col(f"_nv_{k}")
                    old_dt = base.schema[cname].dataType
                    new_dt = upd_schema[f"_nv_{k}"]
                    tgt = _widen_pair(old_dt, new_dt)
                    if is_tagged_type(tgt):
                        # kind conflict between old and new value: keep both
                        # kinds via the tagged dynamic-value struct
                        nvv = tag_column(nv, new_dt)
                        old = tag_column(F.col(cname), old_dt)
                    elif (
                        isinstance(tgt, T.ArrayType) and is_tagged_type(tgt.elementType)
                    ):
                        # element-KIND conflict between two lists (e.g. SET
                        # embedding = l2_normalize(...)::agtype over a plain
                        # numeric array): element-tag both sides — a cast
                        # can't build tagged structs
                        from ..compiler.exprs import _as_tagged_array

                        def _etag(c, dt):
                            et = dt.elementType if isinstance(dt, T.ArrayType) else None
                            return _as_tagged_array(c, et)

                        nvv = _etag(nv, new_dt)
                        old = _etag(F.col(cname), old_dt)
                    else:
                        nvv, old = nv.cast(tgt), F.col(cname).cast(tgt)
                    out_cols.append(F.when(matched, nvv).otherwise(old).alias(cname))
                else:
                    out_cols.append(F.col(cname))
            for k in new_keys:
                out_cols.append(
                    F.when(matched, F.col(f"_nv_{k}"))
                    .otherwise(F.lit(None))
                    .alias(prop_store_name(k, reserved))
                )
            newtab = joined.select(*out_cols)
            (vupd if tkind == VERTEX else eupd)[label] = newtab

    newgraph = graph.snapshot(vertex_dfs=vupd, edge_dfs=eupd)

    # re-point in-flight structs
    for var, kvs in per_var.items():
        tkind, _ = _set_target_kind(env, df, var)
        replace_all = any(k == "__replace__" for k, _ in kvs)
        kvs2 = [(k, c) for k, c in kvs if k != "__replace__"]
        if not kvs2 and not replace_all:
            continue  # += {} no-op
        cur = F.col(var)
        dt = df.schema[var].dataType
        pdt = next(f.dataType for f in dt.fields if f.name == "properties")
        existing = [f.name for f in pdt.fields]
        newprops = []
        for k in existing:
            rep = next((c for kk, c in kvs2 if kk == k), None)
            if rep is not None:
                newprops.append(rep.alias(k))
            elif replace_all:
                # SET n = {...}: keys absent from the map are removed
                newprops.append(
                    F.lit(None).cast(next(f.dataType for f in pdt.fields if f.name == k)).alias(k)
                )
            else:
                newprops.append(cur.getField("properties").getField(k).alias(k))
        for k, c in kvs2:
            if k not in existing:
                newprops.append(c.alias(k))
        fields = [cur.getField("id").alias("id")]
        if tkind == EDGE:
            fields += [cur.getField("start_id").alias("start_id"), cur.getField("end_id").alias("end_id")]
        fields += [cur.getField("label").alias("label"), F.struct(*newprops).alias("properties")]
        df = df.withColumn(var, F.struct(*fields))

    return State(df, env), ctx.with_graph(newgraph)


def _widen_pair(a, b):
    from ..graph import _widen
    return _widen(a, b)


def compile_remove(ctx: QueryContext, st, clause: A.RemoveClause):
    items = [A.SetItem("prop", it.var, it.key, A.Lit(None)) for it in clause.items]
    return compile_set(ctx, st, items)


# ------------------------------------------------------------------ DELETE


def compile_delete(ctx: QueryContext, st, clause: A.Delete):
    from ..compiler.clauses import State

    df, env = st.df, st.env
    if df is None:
        raise CompileError("DELETE requires bound variables")
    graph = ctx.graph

    v_ids: list[DataFrame] = []
    e_ids: list[DataFrame] = []
    for e in clause.exprs:
        if not isinstance(e, A.Var):
            raise CompileError("DELETE expects variables")
        b = env.require(e.name)
        ids = df.select(F.col(e.name).getField("id").alias("_did")).distinct()
        if b.kind == VERTEX:
            v_ids.append(ids)
        elif b.kind == EDGE:
            e_ids.append(ids)
        else:
            raise CompileError(f"cannot DELETE `{e.name}` of kind {b.kind}")

    vdel = None
    for d in v_ids:
        vdel = d if vdel is None else vdel.unionByName(d).distinct()
    edel = None
    for d in e_ids:
        edel = d if edel is None else edel.unionByName(d).distinct()

    eupd: dict[str, DataFrame] = {}
    if vdel is not None:
        vdel = vdel.localCheckpoint(eager=False)
        if clause.detach:
            # cascade: remove edges touching deleted vertices
            # (process_edges_by_index, cypher_delete.c:578)
            for label, tab in graph.edge_dfs.items():
                t = tab.join(vdel, tab["start_id"] == F.col("_did"), "left_anti")
                t = t.join(vdel, t["end_id"] == F.col("_did"), "left_anti")
                eupd[label] = t
        else:
            # error if any connected edge remains (cypher_delete.c:632)
            for label, tab in graph.edge_dfs.items():
                pending = eupd.get(label, tab)
                hit = pending.join(
                    vdel,
                    (pending["start_id"] == F.col("_did")) | (pending["end_id"] == F.col("_did")),
                    "left_semi",
                )
                if edel is not None:
                    hit = hit.join(edel, hit["id"] == edel["_did"], "left_anti")
                if not hit.isEmpty():
                    raise CompileError(
                        "Cannot delete a vertex that still has edges; use DETACH DELETE"
                    )
    vupd: dict[str, DataFrame] = {}
    if vdel is not None:
        for label, tab in graph.vertex_dfs.items():
            vupd[label] = tab.join(vdel, tab["id"] == F.col("_did"), "left_anti")
    if edel is not None:
        edel = edel.localCheckpoint(eager=False)
        for label, tab in graph.edge_dfs.items():
            base = eupd.get(label, tab)
            eupd[label] = base.join(edel, base["id"] == F.col("_did"), "left_anti")

    newgraph = graph.snapshot(vertex_dfs=vupd, edge_dfs=eupd)
    # mark the variables: a later CREATE through a deleted entity errors
    # ("vertex assigned to variable x was deleted", cypher_delete.out:288)
    for e in clause.exprs:
        b = env.require(e.name)
        env = env.bind(
            Binding(b.name, b.kind, b.labels, hidden=b.hidden, deleted=True)
        )
    return State(df, env), ctx.with_graph(newgraph)


# ------------------------------------------------------------------- MERGE


def compile_merge(ctx: QueryContext, st, clause: A.Merge):
    """MERGE: per input row, match the pattern; if found bind it, else create
    the whole path once per distinct key (``executor/cypher_merge.c:640``;
    created-path dedup :594-637). Batch realization: OPTIONAL-MATCH the
    pattern, split found/missing, CREATE for the distinct missing keys, join
    created entities back, union the branches."""
    from ..compiler.clauses import State, _compile_optional_match

    df, env = st.df, st.env
    if df is None:
        df, env = _unit_df(ctx), Env({})
    pat = clause.pattern

    # a MERGE pattern cannot reuse a bound edge variable
    # (cypher_merge.out: `MATCH ()-[e]-() MERGE ()-[e]->()` errors)
    for el in pat.elements:
        if isinstance(el, A.RelPattern) and el.var and env.get(el.var) is not None:
            raise CompileError(f"variable {el.var} already exists")

    # MERGE implicitly creates missing labels (the reference's transform
    # creates label tables up front, cypher_clause.c:8362 path)
    for el in pat.elements:
        if isinstance(el, A.NodePattern):
            for lb in el.labels or [DEFAULT_VLABEL]:
                ctx.graph.create_vlabel(lb)
        elif isinstance(el, A.RelPattern):
            for tp in el.types or [DEFAULT_ELABEL]:
                ctx.graph.create_elabel(tp)

    # anchor handling needs at least one pattern variable new to the scope:
    # name the anonymous elements (MERGE (a)-[:R]->(b) with a, b bound).
    # The synthesized vars are re-hidden before returning.
    synthesized: list[str] = []
    elems2 = []
    for el in pat.elements:
        if el.var is None:
            nm = ctx.fresh("_mg")
            synthesized.append(nm)
            if isinstance(el, A.NodePattern):
                elems2.append(A.NodePattern(nm, el.labels, el.props))
            else:
                elems2.append(A.RelPattern(nm, el.types, el.props, el.direction, el.varlen))
        else:
            elems2.append(el)
    pat = A.PathPattern(pat.var, elems2)

    # 1) optional-match the pattern against the current snapshot
    opt = _compile_optional_match(ctx, State(df, env), A.Match([pat], True, None))
    pat_vars = [v for v in _pattern_var_names(ctx, pat) if env.get(v) is None]
    if not pat_vars:
        raise CompileError("MERGE pattern introduces no new variables")
    anchor = pat_vars[0]
    found = opt.df.filter(F.col(anchor).isNotNull())
    missing = opt.df.filter(F.col(anchor).isNull()).drop(*pat_vars)

    if missing.isEmpty():
        out = found
        st2 = State(out, _rehide(opt.env, synthesized))
        if clause.on_match:
            st2, ctx = compile_set(ctx, st2, clause.on_match)
        return st2, ctx

    # 2) distinct creation keys = bound PATTERN vars (endpoints) + the
    # pattern's property VALUES (cypher_merge.c:594-637 path-key dedup).
    # Props may reference OUTER variables too (`MATCH (n) MERGE ({i: n.i})`
    # or `UNWIND maps AS m MERGE (v {first: m.first})`): those columns ride
    # along as a REPRESENTATIVE (first input row per key) so the CREATE
    # pass can evaluate the property expressions — but they are NOT part
    # of the key (two rows with equal pattern-prop values merge into ONE
    # created path, issue_1709 block).
    bound_refs = sorted(
        v for v in _pattern_var_names(ctx, pat) if env.get(v) is not None
    )
    outer_only = sorted(
        _pattern_outer_refs(pat, env) - set(_pattern_var_names(ctx, pat))
    )
    key_cols = [F.col(v) for v in bound_refs]
    prop_keys = _pattern_prop_exprs(ctx, missing, env, pat)
    key_names = [f"_mk{i}" for i in range(len(prop_keys))]
    sel = key_cols + [c.alias(n) for (c, n) in zip(prop_keys, key_names)]
    if sel:
        if outer_only:
            proj = missing.select(
                *sel,
                *[F.col(v) for v in outer_only],
                F.monotonically_increasing_id().alias("_mrow"),
            )
            dedup = proj.groupBy(*[c for c in (bound_refs + key_names)]).agg(
                *[F.min_by(v, "_mrow").alias(v) for v in outer_only]
            )
        else:
            dedup = missing.select(*sel).distinct()
    elif outer_only:
        proj = missing.select(
            *[F.col(v) for v in outer_only],
            F.monotonically_increasing_id().alias("_mrow"),
        )
        dedup = proj.orderBy("_mrow").limit(1).drop("_mrow")
    else:
        dedup = _unit_df(ctx)

    env_dd = Env({v: env.require(v) for v in bound_refs + outer_only})
    # an undirected MERGE edge matches either orientation but CREATES
    # left-to-right (cypher_merge.out: `MERGE ()-[:e]-()` then
    # `MATCH p=()-[]->()` finds one path)
    create_elems = [
        A.RelPattern(el.var, el.types, el.props, "out", el.varlen)
        if isinstance(el, A.RelPattern) and el.direction == "both"
        else el
        for el in pat.elements
    ]
    create_pat = A.PathPattern(pat.var, create_elems)
    created_state, ctx = compile_create(ctx, State(dedup, env_dd), A.Create([create_pat]))

    # 3) join created rows back to the full missing set on the keys
    join_cond = None
    cmp_df = missing
    for i, c in enumerate(prop_keys):
        cc = c.eqNullSafe(F.col(f"_mk{i}"))
        join_cond = cc if join_cond is None else (join_cond & cc)
    for v in bound_refs:
        b = env.require(v)
        left = F.col(v).getField("id") if b.kind in (VERTEX, EDGE) else F.col(v)
        right_name = f"_mb_{v}"
        created_side = created_state.df.withColumn(
            right_name,
            F.col(v).getField("id") if b.kind in (VERTEX, EDGE) else F.col(v),
        )
        created_state = State(created_side, created_state.env)
        cc = left.eqNullSafe(F.col(right_name))
        join_cond = cc if join_cond is None else (join_cond & cc)
    created_df = created_state.df
    keep = pat_vars + [f"_mk{i}" for i in range(len(prop_keys))] + [
        f"_mb_{v}" for v in bound_refs
    ]
    keep = [c for c in keep if c in created_df.columns]
    created_sel = created_df.select(*keep)
    if join_cond is not None:
        created_rows = missing.join(created_sel, join_cond)
    else:
        created_rows = missing.crossJoin(created_sel)
    created_rows = created_rows.drop(
        *[c for c in created_rows.columns if c.startswith("_mk") or c.startswith("_mb_")]
    )

    st_created = State(created_rows, opt.env)
    if clause.on_create:
        st_created, ctx = compile_set(ctx, st_created, clause.on_create)
    st_found = State(found, opt.env)
    if clause.on_match and not found.isEmpty():
        st_found, ctx = compile_set(ctx, st_found, clause.on_match)

    cols = st_found.df.columns
    out = union_by_merged_schema([st_found.df, st_created.df.select(*cols)])
    return State(out, _rehide(opt.env, synthesized)), ctx


def _pattern_outer_refs(pat: A.PathPattern, env: Env) -> set[str]:
    """Bound variables referenced inside the pattern's property maps."""
    from ..compiler.exprs import _ast_any

    refs: set[str] = set()

    def note(x):
        if isinstance(x, A.Var) and env.get(x.name) is not None:
            refs.add(x.name)
        return False

    for el in pat.elements:
        if el.props is not None and not isinstance(el.props, A.Param):
            _ast_any(el.props, note)
    return refs


def _rehide(env: Env, names: list[str]) -> Env:
    for nm in names:
        b = env.get(nm)
        if b is not None:
            env = env.bind(Binding(b.name, b.kind, b.labels, hidden=True))
    return env


def _pattern_var_names(ctx, pat: A.PathPattern) -> list[str]:
    out = []
    for el in pat.elements:
        if el.var:
            out.append(el.var)
    return out


def _pattern_prop_exprs(ctx, df, env, pat: A.PathPattern) -> list[Column]:
    scope = ExprScope(ctx, df, env)
    out = []
    for el in pat.elements:
        props = getattr(el, "props", None)
        if isinstance(props, A.MapLit):
            for _, v in props.items:
                out.append(compile_expr(scope, v))
    return out
