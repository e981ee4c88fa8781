"""MATCH pattern -> join synthesis.

The reference has no custom join executor: ``transform_match_*``
(``src/backend/parser/cypher_clause.c:4624-5906``) emits equality quals
between edge ``start_id``/``end_id`` and vertex ``id`` columns and lets the
planner pick the join strategy (``make_path_join_quals``
``cypher_clause.c:6220``). We do exactly the same thing one level up: every
pattern element becomes an equi-join between DataFrames keyed on packed
int64 graphids, and Catalyst/AQE picks broadcast vs shuffle joins.

Scale notes:
  - joins are always equi-joins on LongType ids — sort-merge/hash friendly,
    AQE-skew-splittable; never an OR-join (undirected edges are expanded to
    a union of the two orientations instead, keeping the join hashable).
  - label + property constraints are applied on the per-label scan BEFORE
    the join so they push down to parquet.
  - a label filter on an already-bound variable is an arithmetic filter on
    the packed id ((id >> 48) == label_id), not a join — mirrors
    ``filter_vertices_on_label_id`` (``cypher_clause.c:5272``).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..cypher import ast as A
from .context import (
    EDGE,
    EDGE_LIST,
    PATH,
    SCALAR,
    VERTEX,
    Binding,
    CompileError,
    Env,
    QueryContext,
)
from .exprs import ExprScope, compile_expr

ENTRY_ID_BITS = 48


_MISS = object()


def ast_strings(obj, out: Optional[set] = None) -> set:
    """Every string anywhere in an AST fragment (dataclass fields, lists,
    tuples, dicts — including literals and keys).  The CONSERVATIVE
    superset the dead-variable analysis treats as "referenced names":
    over-collecting only disables the vertex-join pruning optimization,
    never correctness."""
    import dataclasses

    if out is None:
        out = set()
    stack = [obj]
    while stack:
        x = stack.pop()
        if isinstance(x, str):
            out.add(x)
        elif dataclasses.is_dataclass(x) and not isinstance(x, type):
            for f in dataclasses.fields(x):
                stack.append(getattr(x, f.name))
        elif isinstance(x, (list, tuple, set, frozenset)):
            stack.extend(x)
        elif isinstance(x, dict):
            stack.extend(x.keys())
            stack.extend(x.values())
    return out


def _lit_tree(e):
    """Python value of a pure literal expression tree, or _MISS if any leaf
    is not a literal (variable/param/function constraints keep the
    equality path)."""
    if isinstance(e, A.Lit):
        return e.value
    if isinstance(e, A.ListLit):
        vals = [_lit_tree(x) for x in e.items]
        return _MISS if any(v is _MISS for v in vals) else vals
    if isinstance(e, A.MapLit):
        out = {}
        for k, v in e.items:
            vv = _lit_tree(v)
            if vv is _MISS:
                return _MISS
            out[k] = vv
        return out
    return _MISS


def _scalar_lit_dt(q) -> T.DataType:
    if isinstance(q, bool):
        return T.BooleanType()
    if isinstance(q, int):
        return T.LongType()
    if isinstance(q, float):
        return T.DoubleType()
    return T.StringType()


def _contains(col: Column, dt, q) -> Column:
    """jsonb-style containment of literal ``q`` in a property value — the
    reference's DEFAULT property-constraint semantics
    (age.enable_containment = on, cypher_match.sql:1082-1135): objects
    match a recursive key subset, arrays match when every requested
    element is contained in SOME target element (order-free, extras
    allowed), scalars match by value."""
    from ..graph import _strip_nullability, is_tagged_type, tag_column
    from .exprs import _tagged_container_access, literal_to_column

    dt = _strip_nullability(dt) if dt is not None else None
    tagged = dt is not None and is_tagged_type(dt)
    if isinstance(q, dict):
        if tagged:
            conj = col.getField("__k") == 3
            for k, v in q.items():
                from ..graph import TAGGED_TYPE

                conj = conj & _contains(_tagged_container_access(col, f"$.{k}"), TAGGED_TYPE, v)
            return conj
        if isinstance(dt, T.StructType):
            names = {f.name for f in dt.fields if f.name != "_none"}
            conj = col.isNotNull()
            for k, v in q.items():
                if k not in names:
                    return F.lit(False)
                conj = conj & _contains(col.getField(k), dt[k].dataType, v)
            return conj
        if isinstance(dt, T.MapType):
            conj = col.isNotNull()
            for k, v in q.items():
                conj = conj & _contains(col.getItem(k), dt.valueType, v)
            return conj
        return F.lit(False)
    if isinstance(q, (list, tuple)):
        if isinstance(dt, T.ArrayType):
            et = dt.elementType

            def _pred(qe):  # bind qe per element (F.exists wants 1-arg)
                return lambda e: _elem_contains(e, et, qe)

            conj = col.isNotNull()
            for qe in q:
                conj = conj & F.exists(col, _pred(qe))
            return conj
        return F.lit(False)
    if q is None:
        # a stored explicit null is indistinguishable from an absent key in
        # the engine's object convention -> a null constraint never matches
        # (the reference's {string_key: NULL} block also returns 0 rows)
        return F.lit(False)
    # scalar: containment equality is KIND-STRICT (agtype_deep_contains —
    # int 5 does not match float 5.0, list_comprehension.out:46)
    if tagged:
        from .exprs import _containment_key

        return _containment_key(col) == _containment_key(
            tag_column(literal_to_column(q), _scalar_lit_dt(q))
        )
    if isinstance(q, bool):
        return (col == q) if isinstance(dt, T.BooleanType) else F.lit(False)
    if isinstance(q, (int, float)):
        from ..graph import _INT_TYPES, _NUMERIC_TYPES

        if dt is None or not isinstance(dt, _NUMERIC_TYPES):
            return F.lit(False)
        if isinstance(q, int):
            return (col == q) if isinstance(dt, _INT_TYPES) else F.lit(False)
        if isinstance(dt, _INT_TYPES):
            return F.lit(False)
        return col.cast("double") == float(q)
    return (col == q) if isinstance(dt, T.StringType) else F.lit(False)


def _elem_contains(e: Column, et, qe) -> Column:
    """Containment of one requested array element in a target element."""
    from ..graph import _strip_nullability, is_tagged_type

    sdt = _strip_nullability(et) if et is not None else None
    tagged = sdt is not None and is_tagged_type(sdt)
    if qe is None:
        return e.isNull()
    if isinstance(qe, dict) and not qe:
        # empty object is contained in any object
        return (e.getField("__k") == 3) if tagged else (
            e.isNotNull() if isinstance(sdt, (T.StructType, T.MapType)) else F.lit(False)
        )
    if isinstance(qe, (list, tuple)) and not qe:
        # empty array is contained in any array
        return (e.getField("__k") == 4) if tagged else (
            e.isNotNull() if isinstance(sdt, T.ArrayType) else F.lit(False)
        )
    return _contains(e, et, qe)


def _props_filter(scope: ExprScope, struct_col: Column, props: A.Expr, struct_dt) -> Column:
    """(n {k: v, ...}) -> conjunction of per-key constraints: scalar
    literals as pushdown-friendly equalities, container literals with the
    jsonb containment semantics the reference applies by default
    (``create_property_constraints``, ``cypher_clause.c:5530-5640``;
    ``age.enable_containment`` blocks of cypher_match.sql)."""
    from .exprs import _deref_entity  # late import to avoid cycle

    exact = False
    if isinstance(props, A.ExactProps):
        exact = True
        props = props.inner
    if isinstance(props, A.Param):
        pval = scope.ctx.params.get(props.name)
        if not isinstance(pval, dict):
            raise CompileError(f"property parameter ${props.name} must be a map")
        items = [(k, A.Lit(v)) for k, v in pval.items()]
    elif isinstance(props, A.MapLit):
        items = props.items
    else:
        raise CompileError("unsupported property constraint")
    from ..graph import is_tagged_type, tag_column

    from .exprs import _operand_dtype

    def _field_dt(key: str):
        if not isinstance(struct_dt, T.StructType):
            return None
        names = {f.name for f in struct_dt.fields}
        # entities deref into PROPERTIES — a {id: ...} constraint matches
        # the property named id, never the graphid (agtype.c:4556)
        if "properties" in names and "id" in names:
            pdt = struct_dt["properties"].dataType
            if isinstance(pdt, T.StructType) and key in {f.name for f in pdt.fields}:
                return pdt[key].dataType
            return None
        if key in names:
            return struct_dt[key].dataType
        return None

    cond = F.lit(True)
    for k, vexpr in items:
        lcol = _deref_entity(scope, struct_col, struct_dt, k)
        fdt = _field_dt(k)
        qv = _lit_tree(vexpr)
        # NB: age.enable_containment is NOT a semantic switch — the
        # reference's regression runs the same queries in both modes and
        # pins IDENTICAL results (cypher_match.sql:1110-1135); the GUC only
        # chooses between the @> operator (GIN-indexable) and access-
        # operator quals. Catalyst owns physical planning here, so both
        # modes compile the same constraints.
        if qv is not _MISS and isinstance(qv, (dict, list, tuple)):
            if fdt is None:
                # key absent from every row of the label: nothing matches
                cond = cond & F.lit(False)
                continue
            if not exact:
                # container-literal constraint -> containment semantics
                cond = cond & _contains(lcol, fdt, qv)
                continue
            # ={...} exact container equality: compare through the tagged
            # kind machinery so a SHAPE mismatch is simply false, not a
            # Spark analysis error
            rcol = compile_expr(scope, vexpr)
            rdt = _operand_dtype(scope, vexpr, rcol)
            from ..graph import tagged_cmp_key_jvm_of

            # exact JVM keys, let-bound: the key's input references would
            # otherwise duplicate the literal's tagged tree past Catalyst's
            # budget (measured: nested-map property constraints OOMed the
            # driver)
            cond = cond & (
                tagged_cmp_key_jvm_of(lcol, fdt) == tagged_cmp_key_jvm_of(rcol, rdt)
            )
            continue
        rcol = compile_expr(scope, vexpr)
        # kind-aligned equality: if either side is a dynamic (tagged) value
        # or their concrete kinds differ, compare through the kind ladder —
        # a kind mismatch is simply FALSE, never a Spark cast error
        # (cypher_merge.sql `MERGE ({j: n.i})` with mixed-kind n.i)
        rdt = _operand_dtype(scope, vexpr, rcol)
        if (
            not exact
            and isinstance(rdt, T.ArrayType)
            and fdt is not None
            and (isinstance(fdt, T.ArrayType) or is_tagged_type(fdt))
        ):
            # default (containment) semantics apply to COMPUTED array
            # constraints too: `(u {list:[i IN range(0,12,2) WHERE i>4]})`
            # matches supersets (list_comprehension.sql)
            from .exprs import compile_containment

            cond = cond & compile_containment(lcol, fdt, rcol, rdt)
            continue
        lt = fdt is not None and is_tagged_type(fdt)
        rt = rdt is not None and is_tagged_type(rdt)
        if lt or rt:
            from ..graph import let_column, tagged_cmp_key_jvm

            def _jk(c):
                return let_column(c, lambda t: tagged_cmp_key_jvm(t))

            lk = lcol if lt else tag_column(lcol, fdt) if fdt is not None else None
            rk = rcol if rt else tag_column(rcol, rdt) if rdt is not None else None
            if lk is None or rk is None:
                cond = cond & (lcol == rcol)
            else:
                cond = cond & (_jk(lk) == _jk(rk))
            continue
        if fdt is not None and rdt is not None:
            from ..graph import _strip_nullability, _widen, is_tagged_type as _itt

            if isinstance(fdt, T.ArrayType) and isinstance(rdt, T.ArrayType) and (
                is_tagged_type(fdt.elementType)
                or is_tagged_type(rdt.elementType)
                or _strip_nullability(fdt.elementType) != _strip_nullability(rdt.elementType)
            ):
                # list vs list with differing/dynamic element kinds:
                # element-tag both and compare cmp-keys (the `=` operator's
                # list path) — a MERGE {list:[i IN [1,2,3]]} against a
                # tagged-element stored list must not fail analysis
                from ..graph import let_column, tagged_cmp_key_jvm
                from .exprs import _as_tagged_array

                def _jek(x):
                    return let_column(
                        x, lambda c: tagged_cmp_key_jvm(c, elem=True)
                    )

                lc = F.transform(_as_tagged_array(lcol, fdt.elementType), _jek)
                rc = F.transform(_as_tagged_array(rcol, rdt.elementType), _jek)
                cond = cond & (lc == rc)
                continue
            try:
                tgt = _widen(fdt, rdt)
            except Exception:
                cond = cond & F.lit(False)
                continue
            if _itt(tgt):
                from ..graph import tagged_cmp_key_jvm_of

                cond = cond & (
                    tagged_cmp_key_jvm_of(lcol, fdt) == tagged_cmp_key_jvm_of(rcol, rdt)
                )
                continue
        cond = cond & (lcol == rcol)
    return cond


def _props_refs_vars(props: Optional[A.Expr]) -> bool:
    """True when a pattern property constraint references VARIABLES
    (`(a:N {id: i})` with i from a prior clause). Such constraints cannot
    filter the label scan — they become post-join quals, exactly the
    reference's shape (create_property_constraints emits quals evaluated
    in the join context, cypher_clause.c:5530)."""
    from .clauses import transform_expr

    if props is None or isinstance(props, A.Param):
        return False
    if isinstance(props, A.ExactProps):
        # the exact-equality wrapper hides its inner map from the generic
        # AST walk — `(u ={list:[i IN u.list]})` must still defer
        return _props_refs_vars(props.inner)
    found = []

    def fn(x):
        if isinstance(x, A.Var):
            found.append(x.name)
        return x

    transform_expr(props, fn)
    return bool(found)


class MatchState:
    """Builds up one MATCH clause: df + env + bookkeeping for uniqueness."""

    def __init__(self, ctx: QueryContext, df: Optional[DataFrame], env: Env,
                 lenient_relabel: bool = False, live: Optional[set] = None):
        self.ctx = ctx
        self.df = df
        self.env = env
        # Names that may be referenced after this pattern (conservative
        # string superset; None = unknown -> no pruning).  A pattern node
        # whose variable is anonymous or provably dead, carries no property
        # constraint, sits in an unnamed path, and hangs off an edge hop
        # does not need its vertex-table join: edge endpoints exist by the
        # graph's referential-integrity invariant (Graph.integrity) and the
        # label constraint is an id-bit filter (ids pack the label in the
        # high ENTRY_ID_BITS..63 bits — the same arithmetic the bound-var
        # label filter below already uses).  Dropping the join removes a
        # whole scan + broadcast/shuffle per dead node at any scale.
        self.live = live
        # predicate contexts (EXISTS((a:Company)), pattern-as-boolean) treat
        # a DIFFERENT label on a bound variable as a label-check filter;
        # a top-level MATCH errors (cypher_match.sql:334 vs
        # pattern_expression.sql EXISTS((a:Company)) -> 0 rows)
        self.lenient_relabel = lenient_relabel
        # names bound BEFORE this clause: edge-variable reuse is legal only
        # for these (cypher_match.sql:360 valid-reuse block); a variable
        # first introduced in this same clause may not repeat (:225-228)
        self._initial_names = set(env.bindings)
        # True when this MATCH started from prior-clause rows (df given):
        # those rows may repeat any column value, so per-variable id
        # uniqueness proofs (the VLE seed-distinct elision) are off
        self._seeded_from_input = df is not None
        self.edge_bindings: list[Binding] = []  # for edge-uniqueness quals
        self.helpers: list[str] = []  # helper cols to drop at clause end
        self.deferred_props: list[tuple[str, A.Expr]] = []  # (var, props) post-join quals

    # ----- scans
    def _vertex_scan(self, name: str, labels: list[str], props: Optional[A.Expr]) -> DataFrame:
        g = self.ctx.graph
        scan = g.scan_vertices(labels or None)
        # memoize the struct packing under a generic column and rename per
        # pattern variable — the rename is one py4j select vs rebuilding
        # the struct tree (driver plan-time only; same physical plan)
        packed = g._scan_cached(
            ("vpack", tuple(labels or ())), [scan],
            lambda: scan.select(
                F.struct(F.col("id"), F.col("label"), F.col("properties")).alias("__v")
            ),
        )
        out = packed.select(F.col("__v").alias(name))
        if props is not None:
            if _props_refs_vars(props):
                self.deferred_props.append((name, props))
            else:
                dt = out.schema[0].dataType
                scope = ExprScope(self.ctx, out, Env({}))
                out = out.filter(_props_filter(scope, F.col(name), props, dt))
        return out

    def _edge_scan(
        self, name: str, types: list[str], direction: str, props: Optional[A.Expr]
    ) -> DataFrame:
        """Edge scan with orientation columns `_src`/`_dst`. Undirected
        patterns union both orientations so the downstream join stays a
        plain equi-join (hashable) instead of an OR-of-quals
        (cf. the reference's two-qual list, ``make_edge_quals``
        ``cypher_clause.c:5208``)."""
        g = self.ctx.graph
        scan = g.scan_edges(types or None)
        if props is not None and _props_refs_vars(props):
            self.deferred_props.append((name, props))
            props = None
        if props is not None:
            est = scan.select(
                F.struct(F.col("id"), F.col("start_id"), F.col("end_id"), F.col("label"), F.col("properties")).alias("_e")
            )
            dt = est.schema[0].dataType
            scope = ExprScope(self.ctx, est, Env({}))
            scan = scan.filter(
                _props_filter(scope, F.struct(F.col("id"), F.col("start_id"), F.col("end_id"), F.col("label"), F.col("properties")), props, dt)
            )
        def build_oriented():
            e = F.struct(
                F.col("id"), F.col("start_id"), F.col("end_id"), F.col("label"), F.col("properties")
            ).alias("__e")
            if direction == "out":
                return scan.select(e, F.col("start_id").alias("__src"), F.col("end_id").alias("__dst"))
            if direction == "in":
                return scan.select(e, F.col("end_id").alias("__src"), F.col("start_id").alias("__dst"))
            fwd = scan.select(e, F.col("start_id").alias("__src"), F.col("end_id").alias("__dst"))
            # undirected: self-loops match once, not once per orientation
            # (the reference's separate edges_self list,
            # age_global_graph.c:642-657)
            rev = scan.filter(F.col("start_id") != F.col("end_id")).select(
                e, F.col("end_id").alias("__src"), F.col("start_id").alias("__dst")
            )
            return fwd.unionByName(rev)

        if props is None:
            # memoize the oriented packing (generic names) per type set +
            # direction; the per-variable rename is a single cheap select
            oriented = g._scan_cached(
                ("epack", tuple(types or ()), direction), [scan], build_oriented
            )
        else:
            oriented = build_oriented()
        src, dst = f"_src_{name}", f"_dst_{name}"
        return oriented.select(
            F.col("__e").alias(name), F.col("__src").alias(src), F.col("__dst").alias(dst)
        )

    @staticmethod
    def _check_varname(var):
        if var is not None and var.startswith("_age_default_"):
            # internal-alias namespace (issue #883; cypher_match.sql:1055)
            raise CompileError(
                "variables cannot begin with the reserved prefix _age_default_"
            )

    def _check_relabel(self, name, existing, labels):
        """A bound variable may repeat its ORIGINAL label constraint, but a
        new or different label is an error (cypher_match.sql:334-358
        'invalid variable reuse': MATCH (a) MATCH (a:v1) fails; MATCH
        (r1:invalid), (r1:invalid) is fine). Predicate contexts are
        lenient: the label becomes a filter instead."""
        if self.lenient_relabel and not existing.labels:
            # adding a label CHECK to an unconstrained binding is legal in
            # predicate position (EXISTS((a:Company)) -> filter); but a
            # variable already constrained to a DIFFERENT label is an error
            # even there ((a:Person) ... (a:Animal), pattern_expression.out)
            return
        if tuple(labels) != tuple(existing.labels):
            raise CompileError(
                f"multiple labels for variable `{name}` are not supported"
            )

    # ----- nodes
    def bind_node(self, node: A.NodePattern) -> str:
        self._check_varname(node.var)
        name = node.var or self.ctx.fresh()
        hidden = node.var is None
        existing = self.env.get(name)
        if existing is not None:
            if existing.kind != VERTEX:
                raise CompileError(f"variable `{name}` already bound to a non-vertex")
            # bound-variable label filter: arithmetic on packed id, no join
            if node.labels:
                self._check_relabel(name, existing, node.labels)
                # an unknown label is a legal constraint no vertex satisfies
                # (the reference rewrites missing labels to WHERE false,
                # cypher_clause.c:8104) — never a catalog error
                meta = self.ctx.graph.meta
                ids = [meta.labels[l].label_id for l in node.labels if l in meta.labels]
                idcol = F.col(name).getField("id")
                cond = F.shiftright(idcol, ENTRY_ID_BITS).isin(ids) if ids else F.lit(False)
                self.df = self.df.filter(cond)
            if node.props is not None:
                dt = self.df.select(F.col(name)).schema[0].dataType
                scope = ExprScope(self.ctx, self.df, self.env)
                self.df = self.df.filter(_props_filter(scope, F.col(name), node.props, dt))
            return name
        scan = self._vertex_scan(name, node.labels, node.props)
        if self.df is None:
            self.df = scan
        else:
            # a genuine pattern product (disconnected patterns) runs as
            # CartesianProductExec whose partition count is LEFT x RIGHT —
            # label-union scans on both sides multiply into hundreds of
            # thousands of near-empty tasks. A narrow coalesce caps the
            # stage's task count at the session's declared parallelism
            # without changing the result or adding a shuffle. Connected
            # patterns are unaffected: their equi-quals rewrite the cross
            # join into a shuffled join anyway.
            bound = 64
            try:
                bound = int(
                    self.df.sparkSession.conf.get("spark.sql.shuffle.partitions")
                )
            except Exception:
                pass
            self.df = self.df.crossJoin(scan).coalesce(bound)
        self.env = self.env.bind(Binding(name, VERTEX, tuple(node.labels), hidden=hidden))
        return name

    def bind_node_at(self, node: A.NodePattern, dst_col: str) -> str:
        """Bind the far-side node of an edge hop, joined on its id."""
        self._check_varname(node.var)
        name = node.var or self.ctx.fresh()
        hidden = node.var is None
        existing = self.env.get(name)
        if existing is not None:
            if existing.kind != VERTEX:
                # (an edge var in a NODE slot silently "matched" on its id
                # field before — the reference errors)
                raise CompileError(f"variable `{name}` already bound to a non-vertex")
            self.df = self.df.filter(F.col(dst_col) == F.col(name).getField("id"))
            if node.labels:
                self._check_relabel(name, existing, node.labels)
                meta = self.ctx.graph.meta
                ids = [meta.labels[l].label_id for l in node.labels if l in meta.labels]
                self.df = self.df.filter(
                    F.shiftright(F.col(name).getField("id"), ENTRY_ID_BITS).isin(ids)
                    if ids
                    else F.lit(False)
                )
            if node.props is not None:
                dt = self.df.select(F.col(name)).schema[0].dataType
                scope = ExprScope(self.ctx, self.df, self.env)
                self.df = self.df.filter(_props_filter(scope, F.col(name), node.props, dt))
            return name
        scan = self._vertex_scan(name, node.labels, node.props)
        self.df = self.df.join(scan, F.col(dst_col) == F.col(name).getField("id"))
        self.env = self.env.bind(Binding(name, VERTEX, tuple(node.labels), hidden=hidden))
        return name

    # ----- dead-node pruning
    def _node_prunable(self, path: A.PathPattern, node: A.NodePattern) -> bool:
        """True when this pattern node's vertex-table join can be replaced
        by an id-bit label filter on the adjacent edge endpoint: unnamed
        path, no property constraint, graph integrity holds, and the
        variable (if any) is anonymous or never referenced again (not in
        the conservative `live` set, not already bound)."""
        if self.live is None or path.var is not None:
            return False
        if node.props is not None:
            return False
        if not getattr(self.ctx.graph, "integrity", True):
            return False
        name = node.var
        if name is None:
            return True
        if name in self.live:
            return False
        if self.env.get(name) is not None:
            return False
        return True

    def _apply_label_bits(self, id_col: Column, labels: list[str]) -> None:
        """Label constraint of a pruned node, as arithmetic on the packed
        endpoint id — identical semantics to joining the label's vertex
        scan, given referential integrity (same filter shape as the
        bound-variable label filter, cypher_clause.c:5272)."""
        if not labels:
            return
        meta = self.ctx.graph.meta
        ids = [meta.labels[l].label_id for l in labels if l in meta.labels]
        self.df = self.df.filter(
            F.shiftright(id_col, ENTRY_ID_BITS).isin(ids) if ids else F.lit(False)
        )

    # ----- edges
    def bind_edge(self, rel: A.RelPattern, from_id: Optional[Column],
                  in_named_path: bool = False,
                  to_pattern: Optional[A.NodePattern] = None) -> tuple[str, str]:
        """Join one edge hop; returns (edge_var, dst_helper_col).

        ``from_id``: id column of the hop's source — a vertex struct's id
        field, a previous hop's destination helper, or None when the
        source node was pruned as dead (the edge scan then anchors the
        pattern itself; only fresh non-VLE scans take this path)."""
        self._check_varname(rel.var)
        name = rel.var or self.ctx.fresh()
        hidden = rel.var is None
        existing = self.env.get(name)
        if existing is not None:
            # a bound edge variable REUSED in a later pattern constrains the
            # hop to that same edge (the reference joins on the transform
            # entity, cypher_match.sql:360-384 "valid variable reuse for
            # edge labels across clauses") — no new scan, just quals
            if existing.kind != EDGE:
                raise CompileError(f"variable `{name}` already bound to a non-edge")
            if rel.varlen is not None:
                raise CompileError(
                    f"variable `{name}` already bound — cannot rebind as variable-length"
                )
            if name not in self._initial_names:
                # repeating an edge variable WITHIN its introducing clause
                # is invalid (cypher_match.sql:225-228); only cross-clause
                # reuse joins on the same edge
                raise CompileError(
                    f"duplicate edge variable `{name}` within one MATCH pattern"
                )
            if rel.types and tuple(rel.types) != tuple(existing.labels):
                # like vertex labels: a reused edge variable may repeat its
                # ORIGINAL type list, not introduce a different one
                raise CompileError(
                    f"multiple types for variable `{name}` are not supported"
                )
            e = F.col(name)
            assert from_id is not None  # reuse hops never take the pruned-source path
            if rel.direction == "out":
                self.df = self.df.filter(e.getField("start_id") == from_id)
                dcol = e.getField("end_id")
            elif rel.direction == "in":
                self.df = self.df.filter(e.getField("end_id") == from_id)
                dcol = e.getField("start_id")
            else:
                self.df = self.df.filter(
                    (e.getField("start_id") == from_id) | (e.getField("end_id") == from_id)
                )
                dcol = F.when(
                    e.getField("start_id") == from_id, e.getField("end_id")
                ).otherwise(e.getField("start_id"))
            if rel.props is not None:
                dt = self.df.select(e).schema[0].dataType
                scope = ExprScope(self.ctx, self.df, self.env)
                self.df = self.df.filter(_props_filter(scope, e, rel.props, dt))
            dst = f"_dst_{self.ctx.fresh()}"
            self.df = self.df.withColumn(dst, dcol)
            self.helpers.append(dst)
            # the reused edge participates in THIS clause's pairwise
            # edge-uniqueness — including against ITSELF when the variable
            # repeats: the reference emits id(e) <> id(e) and the pattern
            # is decisively empty (cypher_match.out:852 -> 0 rows;
            # EXISTS((u)-[e]->(v)-[e]->(u)) prints false even on a loop)
            self.edge_bindings.append(existing)
            return name, dst
        if rel.varlen is not None:
            return self._bind_vle(rel, name, from_id, hidden, in_named_path,
                                  to_pattern=to_pattern)
        scan = self._edge_scan(name, rel.types, rel.direction, rel.props)
        src, dst = f"_src_{name}", f"_dst_{name}"
        if from_id is None:
            # pruned source node: the edge scan anchors the pattern (its
            # source label filter, if any, is applied by the caller on the
            # `src` helper).  With prior rows this is a genuine pattern
            # product — cap the CartesianProduct task count like bind_node.
            if self.df is None:
                self.df = scan
            else:
                bound = 64
                try:
                    bound = int(
                        self.df.sparkSession.conf.get("spark.sql.shuffle.partitions")
                    )
                except Exception:
                    pass
                self.df = self.df.crossJoin(scan).coalesce(bound)
        else:
            self.df = self.df.join(scan, F.col(src) == from_id)
        self.helpers += [src, dst]
        b = Binding(name, EDGE, tuple(rel.types), hidden=hidden)
        self.env = self.env.bind(b)
        self.edge_bindings.append(b)
        return name, dst

    def _bind_vle(self, rel: A.RelPattern, name: str, from_id: Column, hidden: bool,
                  in_named_path: bool = False,
                  to_pattern: Optional[A.NodePattern] = None) -> tuple[str, str]:
        from ..runtime.vle import vle_pairs

        lo, hi = rel.varlen
        lo = 1 if lo is None and hi is not None else (lo if lo is not None else 1)
        # Seed-distinct elision (guide §2.4: a distinct on already-unique
        # data is a wasted exchange): when this pattern started with no
        # input rows and has bound exactly ONE variable (the seed node's
        # filtered vertex scan — no edges, no cross joins), from_id values
        # are vertex ids of a single scan, unique by construction, and the
        # traversal can skip its seed dedup shuffle outright.
        seeds_unique = (
            not self._seeded_from_input
            and not self.edge_bindings
            and len(self.env.bindings) == 1
        )
        seeds = self.df.select(from_id.alias("src"))
        # anonymous [*..] outside a named path: nothing can read the edge
        # structs or interior nodes — traverse with edge ids only
        slim = hidden and not in_named_path
        edge_filter = None
        if rel.props is not None:
            # `[e*1..2 {weight: 5}]` prototype: every traversed edge must
            # match — filter the edge scan before the frontier expansion
            # (reference: edge_prototype in the VLE context, age_vle.c:1928;
            # regress/sql/cypher_vle.sql property-filtered cases).
            ctx, props_ast = self.ctx, rel.props

            def edge_filter(scan, _ctx=ctx, _props=props_ast):
                est = F.struct(
                    F.col("id"), F.col("start_id"), F.col("end_id"),
                    F.col("label"), F.col("properties"),
                )
                dt = scan.select(est.alias("_e")).schema[0].dataType
                scope = ExprScope(_ctx, scan, Env({}))
                return _props_filter(scope, est, _props, dt)

        # target-closure pruning hint (bounded traversals): the vertices
        # the NEXT node pattern can match — the traversal drops frontier
        # rows that cannot reach one within the remaining hops (the
        # forward twin of shortest_path's backward pruning).  A bound
        # destination variable gives the tightest set; otherwise its
        # label scan.  Purely an optimization: the post-traversal join
        # on the destination stays the semantic gate.
        targets = None
        if hi is not None and 1 <= hi <= 4 and to_pattern is not None:
            tvar = to_pattern.var
            tb = self.env.get(tvar) if tvar else None
            if (
                tb is not None
                and tb.kind == "vertex"  # a non-vertex reuse errors later
                and self.df is not None
            ):
                targets = self.df.select(
                    F.col(tvar).getField("id").alias("_tv")
                ).distinct()
            elif to_pattern.labels:
                targets = self.ctx.graph.scan_vertices(
                    list(to_pattern.labels)
                ).select(F.col("id").alias("_tv"))
        pairs = vle_pairs(
            self.ctx.graph,
            types=rel.types or None,
            direction=rel.direction,
            min_hops=lo,
            max_hops=hi,
            seeds=seeds,
            slim=slim,
            edge_filter=edge_filter,
            targets=targets,
            seeds_unique=seeds_unique,
        )
        dst = f"_dst_{name}"
        pairs = pairs.select(
            F.col("src").alias(f"_vsrc_{name}"),
            F.col("dst").alias(dst),
            F.col("edges").alias(name),
            F.col("nodes").alias(f"_vnodes_{name}"),
        )
        self.df = self.df.join(pairs, F.col(f"_vsrc_{name}") == from_id)
        self.helpers += [f"_vsrc_{name}", dst, f"_vnodes_{name}"]
        b = Binding(name, EDGE_LIST, tuple(rel.types), hidden=hidden)
        self.env = self.env.bind(b)
        self.edge_bindings.append(b)
        return name, dst

    # ----- uniqueness (all edges within one PATH pattern are distinct;
    # `_ag_enforce_edge_uniqueness`, age_vle.c:2557, applied per path by
    # prevent_duplicate_edges in transform_match_path, cypher_clause.c:5670)
    def apply_edge_uniqueness(self, start: int):
        """Pairwise-distinct quals over the edges bound since `start` — the
        current comma-separated path's slice of edge_bindings (a reused
        variable re-appends its binding, so it participates here too)."""
        path_edges = self.edge_bindings[start:]
        for i in range(len(path_edges)):
            for j in range(i + 1, len(path_edges)):
                cond = self._uniq_cond(path_edges[i], path_edges[j])
                if cond is not None:
                    self.df = self.df.filter(cond)

    def _uniq_cond(self, b1: Binding, b2: Binding) -> Optional[Column]:
        # Edge ids pack the edge LABEL in the high bits, so two edges with
        # disjoint declared type lists live in disjoint id spaces and the
        # uniqueness qual is statically TRUE — skip the per-row comparison
        # (a reused variable re-appends the SAME binding, whose type list
        # intersects itself, so the decisive id(e) <> id(e) qual survives).
        if b1.labels and b2.labels and not (set(b1.labels) & set(b2.labels)):
            return None
        c1, c2 = F.col(b1.name), F.col(b2.name)
        if b1.kind == EDGE and b2.kind == EDGE:
            return c1.getField("id") != c2.getField("id")
        if b1.kind == EDGE and b2.kind == EDGE_LIST:
            return ~F.exists(c2, lambda x: x.getField("id") == c1.getField("id"))
        if b1.kind == EDGE_LIST and b2.kind == EDGE:
            return ~F.exists(c1, lambda x: x.getField("id") == c2.getField("id"))
        if b1.kind == EDGE_LIST and b2.kind == EDGE_LIST:
            ids1 = F.transform(c1, lambda x: x.getField("id"))
            ids2 = F.transform(c2, lambda x: x.getField("id"))
            return ~F.arrays_overlap(ids1, ids2)
        return None

    def drop_helpers(self):
        if self.helpers and self.df is not None:
            keep = [c for c in self.df.columns if c not in set(self.helpers)]
            self.df = self.df.select(*keep)
            self.helpers = []


def normalize_vertex(ctx: QueryContext, col: Column, cur_dt: T.StructType) -> Column:
    """Re-cast a vertex struct to the graph-global merged schema so structs
    from different label scans can live in one ARRAY (path columns)."""
    schema = ctx.graph.vertex_property_schema(None)
    cur_props = next((f.dataType for f in cur_dt.fields if f.name == "properties"), None)
    have = {f.name: f.dataType for f in cur_props.fields} if isinstance(cur_props, T.StructType) else {}
    from ..graph import conform_col

    props = [
        (
            conform_col(col.getField("properties").getField(nm), have[nm], dt)
            if nm in have
            else F.lit(None).cast(dt)
        ).alias(nm)
        for nm, dt in schema
    ] or [F.lit(None).cast("string").alias("_none")]
    return F.struct(
        col.getField("id").alias("id"),
        col.getField("label").alias("label"),
        F.struct(*props).alias("properties"),
    )


def normalize_edge(ctx: QueryContext, col: Column, cur_dt: T.StructType) -> Column:
    schema = ctx.graph.edge_property_schema(None)
    cur_props = next((f.dataType for f in cur_dt.fields if f.name == "properties"), None)
    have = {f.name: f.dataType for f in cur_props.fields} if isinstance(cur_props, T.StructType) else {}
    from ..graph import conform_col

    props = [
        (
            conform_col(col.getField("properties").getField(nm), have[nm], dt)
            if nm in have
            else F.lit(None).cast(dt)
        ).alias(nm)
        for nm, dt in schema
    ] or [F.lit(None).cast("string").alias("_none")]
    return F.struct(
        col.getField("id").alias("id"),
        col.getField("start_id").alias("start_id"),
        col.getField("end_id").alias("end_id"),
        col.getField("label").alias("label"),
        F.struct(*props).alias("properties"),
    )


def compile_match_patterns(
    ctx: QueryContext,
    df: Optional[DataFrame],
    env: Env,
    patterns: list[A.PathPattern],
    lenient_relabel: bool = False,
    live: Optional[set] = None,
) -> tuple[DataFrame, Env, MatchState]:
    """Compile a list of comma-separated path patterns into joins.

    ``live``: conservative set of names that later clauses (or the
    enclosing WHERE) may reference — enables dead-node vertex-join pruning
    (None disables it).  Names referenced WITHIN the patterns themselves
    (repeated element variables, property-constraint expressions, path
    names) are added here so a node is only pruned when nothing at all can
    observe it."""
    if live is not None:
        live = set(live)
        seen_names: set[str] = set()
        for p in patterns:
            if p.var:
                live.add(p.var)
            for el in p.elements:
                v = getattr(el, "var", None)
                if v is not None:
                    # second occurrence of a name inside this clause = a
                    # join constraint — both occurrences must stay bound
                    if v in seen_names:
                        live.add(v)
                    seen_names.add(v)
                if getattr(el, "props", None) is not None:
                    ast_strings(el.props, live)
    st = MatchState(ctx, df, env, lenient_relabel=lenient_relabel, live=live)
    for path in patterns:
        start = len(st.edge_bindings)
        _compile_one_path(st, path)
        # edge-uniqueness is scoped PER comma-separated path pattern, not
        # across the whole MATCH: prevent_duplicate_edges runs inside
        # transform_match_path (cypher_clause.c:5670) with only that
        # path's entities, so `()-[r1]->(), ()-[r2]->()` CAN bind the same
        # edge to both variables (expr.out:10143 returns the row)
        st.apply_edge_uniqueness(start)
    # property constraints that reference VARIABLES apply after the joins,
    # when every binding is in scope (the reference's qual placement)
    for name, props in st.deferred_props:
        dt = st.df.schema[name].dataType
        if isinstance(dt, T.ArrayType):
            raise CompileError(
                "variable-length property prototypes cannot reference variables"
            )
        scope = ExprScope(ctx, st.df, st.env)
        st.df = st.df.filter(_props_filter(scope, F.col(name), props, dt))
    return st.df, st.env, st


def _compile_one_path(st: MatchState, path: A.PathPattern):
    elems = path.elements
    node_vars: list[str] = []
    edge_vars: list[tuple[str, str]] = []  # (name, kind)
    first: A.NodePattern = elems[0]
    # Prune the path's FIRST vertex join when the node is dead: the first
    # edge scan then anchors the pattern, with the node's label constraint
    # as an id-bit filter on the edge's source helper.  Restricted to a
    # fresh non-VLE first hop (VLE needs the seed set; a reused edge var
    # filters an existing binding instead of scanning).
    prune_first = (
        len(elems) > 1
        and elems[1].varlen is None
        and (elems[1].var is None or st.env.get(elems[1].var) is None)
        and st._node_prunable(path, first)
    )
    if prune_first:
        cur_id: Optional[Column] = None
    else:
        cur = st.bind_node(first)
        node_vars.append(cur)
        cur_id = F.col(cur).getField("id")
    i = 1
    while i < len(elems):
        rel: A.RelPattern = elems[i]
        nxt: A.NodePattern = elems[i + 1]
        ename, dst_col = st.bind_edge(rel, cur_id, in_named_path=path.var is not None,
                                      to_pattern=nxt)
        if cur_id is None:
            st._apply_label_bits(F.col(f"_src_{ename}"), first.labels)
        ekind = EDGE_LIST if rel.varlen is not None else EDGE
        edge_vars.append((ename, ekind))
        if st._node_prunable(path, nxt):
            # dead destination: the arrival id (edge endpoint / VLE dst)
            # exists by integrity — label check via id bits, no join
            st._apply_label_bits(F.col(dst_col), nxt.labels)
            cur_id = F.col(dst_col)
        else:
            cur = st.bind_node_at(nxt, dst_col)
            node_vars.append(cur)
            cur_id = F.col(cur).getField("id")
        i += 2
    if path.var is not None:
        _materialize_path(st, path.var, node_vars, edge_vars)


def _materialize_path(st: MatchState, pvar: str, node_vars: list[str], edge_vars: list[tuple[str, str]]):
    """p = (...) — path column STRUCT<nodes ARRAY<vertex>, edges ARRAY<edge>>.

    The reference materializes AGTV_PATH scalars (``_agtype_build_path``,
    ``agtype.c:2081``); our path value carries normalized entity structs.
    For VLE segments the interior vertices come from the VLE accumulator.
    """
    ctx = st.ctx
    df = st.df

    def _norm_node(nv: str) -> Column:
        dt = df.select(F.col(nv)).schema[0].dataType
        return normalize_vertex(ctx, F.col(nv), dt)

    # Interleave: v0, (interior..., v1), (interior..., v2), ... For VLE
    # segments the interior vertices come from the traversal accumulator
    # (`_vnodes_<edge>`); a zero-hop VLE segment contributes no new vertex
    # (the endpoint IS the start — a 0-edge path is a single vertex,
    # `_agtype_build_path`, agtype.c:2081).
    # NB: single-arg lambdas only — a 2-arg lambda makes F.transform pass
    # the array INDEX as the second argument, clobbering a default-arg dtype
    def _edge_norm(et):
        return lambda x: normalize_edge(ctx, x, et)

    def _vertex_norm(vt):
        return lambda x: normalize_vertex(ctx, x, vt)

    node_segments: list[Column] = [F.array(_norm_node(node_vars[0]))]
    edge_parts = []
    for i, (ename, ekind) in enumerate(edge_vars):
        dt = df.select(F.col(ename)).schema[0].dataType
        nxt = _norm_node(node_vars[i + 1])
        if ekind == EDGE:
            edge_parts.append(F.array(normalize_edge(ctx, F.col(ename), dt)))
            node_segments.append(F.array(nxt))
        else:
            edge_parts.append(F.transform(F.col(ename), _edge_norm(dt.elementType)))
            vn = f"_vnodes_{ename}"
            vdt = df.select(F.col(vn)).schema[0].dataType.elementType
            node_segments.append(F.transform(F.col(vn), _vertex_norm(vdt)))
            node_segments.append(
                F.slice(F.array(nxt), 1, F.when(F.size(F.col(ename)) > 0, 1).otherwise(0))
            )
    edges_col = F.concat(*edge_parts) if edge_parts else F.expr("array()")
    path_col = F.struct(
        F.concat(*node_segments).alias("nodes"),
        (edges_col if edge_parts else F.lit(None).cast("array<string>")).alias("edges"),
    )
    if st.env.get(pvar) is not None:
        # p=(p), ()-[p]->() in the same pattern, or a prior clause's
        # vertex/edge variable reused as a path name — all invalid
        # (cypher_match.sql:229-240)
        raise CompileError(f"variable `{pvar}` already bound — cannot name a path")
    st.df = df.withColumn(pvar, path_col)
    st.env = st.env.bind(Binding(pvar, PATH))
