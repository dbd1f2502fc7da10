"""Cypher AST → DataFrame compiler.

Replaces the reference's QueryPlanner (queryplanner/QueryPlanner.cpp:21-466)
+ the JSON-serialized operator tree + the thread-per-operator interpreter
(runtime/OperatorExecutor.cpp). We compile the pattern directly to the
operator combinators in jasminegraph_spark.operators; Catalyst then does
what the reference's hand-rolled heuristics did (predicate pushdown, point
seeks, join ordering) plus what it never had (column pruning, CBO, AQE).

Semantics preserved from the reference:
 * relationship uniqueness within a pattern — `r_i <> r_j` filters injected
   for every relationship pair (QueryPlanner.cpp:571-582);
 * undirected graphs traverse both orientations
   (OperatorExecutor.cpp:490-494);
 * literal-driven property coercion and missing-property → null
   (runtime/Helpers.cpp:197-290);
 * inline property maps compile to equality filters above the scan
   (Operators.cpp:229-265); label predicates to label filters (:213-227).
"""

from __future__ import annotations

import hashlib
import itertools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from jasminegraph_spark import operators as ops
from jasminegraph_spark.cypher import ast
from jasminegraph_spark.cypher.parser import parse
from jasminegraph_spark.graph import PropertyGraph
from jasminegraph_spark.operators.predicates import coerced_compare, logical


class CypherCompileError(ValueError):
    pass


class _Compiler:
    def __init__(self, graph: PropertyGraph):
        self.graph = graph
        self._anon = itertools.count()
        self.node_vars: set[str] = set()
        self.rel_vars: set[str] = set()
        # lambda-scoped variables (list predicates / comprehensions):
        # name → the higher-order-function argument Column
        self.lambda_vars: dict[str, Column] = {}
        # named paths (MATCH p = ...): path var → {"node_vars": [...],
        # "n_rels": fixed rel count, "len_col": varlength column or None}
        self.paths: dict[str, dict] = {}
        # WITH aliases known to be list-valued (collect() / comprehension
        # / split()) — lets size() and friends dispatch correctly later
        self.list_vars: set[str] = set()

    def fresh(self, prefix: str) -> str:
        return f"__{prefix}{next(self._anon)}"

    # ---------------- pattern → DataFrame ----------------
    def compile_pattern(self, p: ast.PathPattern, bound: DataFrame | None) -> DataFrame:
        """Compile one path chain. If ``bound`` is given and shares its
        first variable, continue expanding from it (MATCH-chain join)."""
        first = p.nodes[0]
        var = first.var or self.fresh("n")
        first.var = var
        if bound is not None and var in self.node_vars:
            df = bound
        else:
            scan = self._scan(first)
            if bound is None:
                df = scan
            else:
                # join on shared var if rebinding, else cartesian product
                df = ops.cartesian_product(bound, scan)
        self.node_vars.add(var)
        df = self._apply_node_props(df, first)

        path_info = None
        if p.path_var is not None:
            path_info = {"node_vars": [var], "n_rels": 0, "len_col": None}
            self.paths[p.path_var] = path_info
        if p.shortest and bound is not None:
            raise CypherCompileError(
                "shortestPath() is supported as a standalone pattern "
                "(its per-endpoint-pair reduction would be ambiguous "
                "against other bound rows)"
            )
        first_var, shortest_len_col = var, None

        rels_in_path: list[str] = []
        for rel, node in zip(p.rels, p.nodes[1:]):
            if rel.min_hops is not None:
                plen = (
                    self.fresh("plen")
                    if (path_info is not None or p.shortest)
                    else None
                )
                df = self._expand_varlength(df, var, rel, node, plen_col=plen)
                var = node.var
                shortest_len_col = plen
                if path_info is not None:
                    # interior nodes differ per row → node list unknowable
                    path_info["node_vars"] = None
                    path_info["len_col"] = plen
                continue
            rvar = rel.var or self.fresh("r")
            rel.var = rvar
            nvar = node.var or self.fresh("n")
            rebind = node.var is not None and nvar in self.node_vars
            node.var = nvar
            target = nvar if not rebind else self.fresh("n")
            rel_type = rel.types[0] if len(rel.types) == 1 else None
            df = ops.expand_all(
                df,
                self.graph,
                from_var=var,
                rel_var=rvar,
                to_var=target,
                rel_type=rel_type,
                direction=rel.direction,
                unique_vs=rels_in_path,
                to_labels=node.labels or None,
            )
            if len(rel.types) > 1:
                df = df.filter(F.col(f"{rvar}.type").isin(rel.types))
            for k, v in rel.props.items():
                df = df.filter(coerced_compare(F.col(f"{rvar}.properties")[k], "==", v))
            if rebind:
                # closing a cycle: target must be the already-bound node
                df = df.filter(F.col(f"{target}.id") == F.col(f"{nvar}.id")).drop(target)
            else:
                self.node_vars.add(nvar)
                df = self._apply_node_props(df, node)
            rels_in_path.append(rvar)
            self.rel_vars.add(rvar)
            var = nvar
            if path_info is not None:
                path_info["n_rels"] += 1
                if path_info["node_vars"] is not None:
                    path_info["node_vars"].append(var)
        if p.shortest and shortest_len_col is not None:
            # shortestPath((a)-[*..n]-(b)): ONE min-hop row per endpoint
            # pair. A row_number window ordered by path length both takes
            # the minimum and dedups alternate routes (whose interior
            # nodes were already projected away — tied rows are
            # identical). Fixed-length shortestPath needs no reduction.
            from pyspark.sql.window import Window as _W

            w = _W.partitionBy(
                F.col(f"{first_var}.id"), F.col(f"{var}.id")
            ).orderBy(F.col(shortest_len_col))
            df = (
                df.withColumn("_sp_rn", F.row_number().over(w))
                .filter(F.col("_sp_rn") == 1)
                .drop("_sp_rn")
            )
        return df

    def _expand_varlength(
        self,
        df: DataFrame,
        from_var: str,
        rel: ast.RelPattern,
        node: ast.NodePattern,
        plen_col: str | None = None,
    ) -> DataFrame:
        """Variable-length expansion -[:T*min..max]- : the union of the
        min..max fixed-hop chains, each with relationship uniqueness among
        its own hops (Cypher path semantics). Bounded ranges only — each
        hop is one more shuffle join; unbounded '*' defaults to 1..3.

        The relationship variable cannot be bound across a variable-length
        pattern (it would be a list); anonymous rels only."""
        if rel.var is not None:
            raise CypherCompileError(
                "binding a variable-length relationship is not supported"
            )
        nvar = node.var or self.fresh("n")
        node.var = nvar
        rel_type = rel.types[0] if len(rel.types) == 1 else None
        keep_cols = df.columns
        branches = []
        for h in range(rel.min_hops, rel.max_hops + 1):
            branch = df
            hop_rels: list[str] = []
            cur = from_var
            for i in range(h):
                is_last = i == h - 1
                hop_to = nvar if is_last else self.fresh("n")
                hop_rel = self.fresh("r")
                branch = ops.expand_all(
                    branch,
                    self.graph,
                    from_var=cur,
                    rel_var=hop_rel,
                    to_var=hop_to,
                    rel_type=rel_type,
                    direction=rel.direction,
                    unique_vs=hop_rels,
                    to_labels=node.labels or None if is_last else None,
                )
                hop_rels.append(hop_rel)
                cur = hop_to
            keep = [*keep_cols, nvar]
            if plen_col is not None:
                # named path: each branch knows its hop count statically
                branch = branch.withColumn(plen_col, F.lit(h))
                keep.append(plen_col)
            branches.append(branch.select(*keep))
        out = branches[0]
        for b in branches[1:]:
            out = out.unionByName(b)
        self.node_vars.add(nvar)
        return self._apply_node_props(out, node)

    def _scan(self, node: ast.NodePattern) -> DataFrame:
        if len(node.labels) == 1:
            return ops.node_scan_by_label(self.graph, node.labels[0], node.var)
        if node.labels:
            return ops.multiple_node_scan_by_label(self.graph, node.labels, node.var)
        return ops.all_node_scan(self.graph, node.var)

    def _apply_node_props(self, df: DataFrame, node: ast.NodePattern) -> DataFrame:
        for k, v in node.props.items():
            df = df.filter(coerced_compare(F.col(f"{node.var}.properties")[k], "==", v))
        if len(node.labels) > 1:
            pass  # already filtered by scan
        return df

    # ---------------- expressions ----------------
    def expr(self, e) -> Column:
        if isinstance(e, ast.PatternComprehension):
            col = getattr(self, "_pc_cols", {}).get(id(e))
            if col is None:
                raise CypherCompileError(
                    "pattern comprehension outside RETURN/WITH projection"
                )
            return F.col(col)
        if isinstance(e, ast.PropRef):
            return F.col(f"{e.var}.properties")[e.key]
        if isinstance(e, ast.IdFunc):
            return F.col(f"{e.var}.id")
        if isinstance(e, ast.LabelsFunc):
            return F.col(f"{e.var}.label")
        if isinstance(e, ast.TypeFunc):
            return F.col(f"{e.var}.type")
        if isinstance(e, ast.PathFunc):
            info = self.paths.get(e.var)
            if info is None:
                raise CypherCompileError(f"{e.func}({e.var}): unbound path variable")
            if e.func == "length":
                if info["len_col"] is not None:
                    return F.lit(info["n_rels"]) + F.col(info["len_col"])
                return F.lit(info["n_rels"])
            if e.func == "nodes":
                if info["node_vars"] is None:
                    raise CypherCompileError(
                        "nodes() over a variable-length path is not supported "
                        "(interior nodes differ per row)"
                    )
                return F.array(*[F.col(f"{v}.id") for v in info["node_vars"]])
            raise CypherCompileError(f"unknown path function {e.func}")
        if isinstance(e, ast.ScalarFunc):
            return self._scalar(e)
        if isinstance(e, ast.VarRef):
            if e.var in self.lambda_vars:
                return self.lambda_vars[e.var]
            return F.col(e.var)
        if isinstance(e, ast.Literal):
            return F.lit(e.value)
        if isinstance(e, ast.Reduce):
            # reduce(acc = init, x IN l | expr) → aggregate(l, init, merge):
            # a JVM-side fold inside codegen, like the other list HOFs.
            # aggregate() requires the merge's return type to EQUAL the
            # accumulator type (init 0 [int] + bigint elements fails
            # analysis) — Cypher is dynamically typed there. Route the
            # init through concat(array(init), l): array concat computes
            # the least-common element type, and its head is the init
            # value coerced to it.
            lst = self.expr(e.list_expr)
            init = F.element_at(F.concat(F.array(self.expr(e.init)), lst), 1)

            def merge(acc: Column, x: Column) -> Column:
                prev_a = self.lambda_vars.get(e.acc_var)
                prev_x = self.lambda_vars.get(e.var)
                self.lambda_vars[e.acc_var] = acc
                self.lambda_vars[e.var] = x
                try:
                    return self.expr(e.body)
                finally:
                    for name, prev in ((e.acc_var, prev_a), (e.var, prev_x)):
                        if prev is None:
                            del self.lambda_vars[name]
                        else:
                            self.lambda_vars[name] = prev

            return F.aggregate(lst, init, merge)
        if isinstance(e, ast.ListComprehension):
            # [x IN l WHERE p | m] → transform(filter(l, p), m): stays
            # JVM-side inside whole-stage codegen (no Python UDF)
            lst = self.expr(e.list_expr)
            if e.where is not None:
                lst = F.filter(lst, self._lambda(e.var, e.where, self.predicate))
            if e.map_expr is not None:
                lst = F.transform(lst, self._lambda(e.var, e.map_expr, self.expr))
            return lst
        if isinstance(e, ast.CaseExpr):
            out = F.when(self.predicate(e.whens[0][0]), self.expr(e.whens[0][1]))
            for pred, val in e.whens[1:]:
                out = out.when(self.predicate(pred), self.expr(val))
            if e.else_ is not None:
                out = out.otherwise(self.expr(e.else_))
            return out
        if isinstance(e, ast.BinaryOp):
            l, r = self.expr(e.left), self.expr(e.right)
            # openCypher overloads + as string concatenation; properties
            # are stored as strings so the operand TYPE is invisible at
            # compile time — the literal decides (the engine's
            # literal-driven typing philosophy): a string literal on
            # either side makes + a concat, otherwise arithmetic (where
            # Spark's implicit string→double coercion applies)
            if e.op == "+" and any(
                isinstance(s, ast.Literal) and isinstance(s.value, str)
                for s in (e.left, e.right)
            ):
                return F.concat(l, r)
            import operator as _op

            return {"+": _op.add, "-": _op.sub, "*": _op.mul,
                    "/": _op.truediv, "%": _op.mod}[e.op](l, r)
        raise CypherCompileError(f"cannot compile value expression {e!r}")

    def _is_list_expr(self, a0) -> bool:
        """Compile-time "is this expression list-valued": literal lists,
        comprehensions, reduce-over..., split(), nodes(), collect()
        aggregates, and WITH aliases previously bound to any of those."""
        return (
            isinstance(a0, ast.ListComprehension)
            or isinstance(a0, ast.PatternComprehension)
            or (isinstance(a0, ast.Literal) and isinstance(a0.value, list))
            or (isinstance(a0, ast.ScalarFunc) and a0.func == "split")
            or (isinstance(a0, ast.PathFunc) and a0.func == "nodes")
            or (isinstance(a0, ast.Aggregate) and a0.func == "collect")
            or (isinstance(a0, ast.VarRef) and a0.var in self.list_vars)
        )

    def _scalar(self, e: "ast.ScalarFunc") -> Column:
        """openCypher scalar functions → Catalyst built-ins, 1:1 (no UDFs).
        Properties are stored as strings (the reference's block store keeps
        untyped bytes, PropertyLink.cpp) — numeric functions coerce through
        double, matching the engine's literal-driven typing elsewhere."""
        args = [self.expr(a) for a in e.args]

        def need(n: int):
            if len(args) != n:
                raise CypherCompileError(f"{e.func}() expects {n} args, got {len(args)}")

        f = e.func
        if f in ("keys", "properties"):
            # entity functions: the arg is a bound node/rel variable
            if not (len(e.args) == 1 and isinstance(e.args[0], ast.VarRef)):
                raise CypherCompileError(f"{f}() takes one bound variable")
            props = F.col(f"{e.args[0].var}.properties")
            # keys sorted for deterministic output (map iteration order is
            # engine-defined otherwise)
            return F.array_sort(F.map_keys(props)) if f == "keys" else props
        if f == "toupper":
            need(1); return F.upper(args[0])
        if f == "tolower":
            need(1); return F.lower(args[0])
        if f == "tostring":
            need(1); return args[0].cast("string")
        if f == "tointeger":
            need(1); return args[0].cast("double").cast("long")
        if f == "tofloat":
            need(1); return args[0].cast("double")
        if f == "substring":
            if len(args) == 2:  # openCypher is 0-based; Spark is 1-based
                return F.substring(args[0], args[1] + F.lit(1), F.lit(2147483647))
            need(3)
            return F.substring(args[0], args[1] + F.lit(1), args[2])
        if f == "size":
            need(1)
            # compile-time dispatch: list-shaped args use array size,
            # string properties use length
            a0 = e.args[0]
            return F.size(args[0]) if self._is_list_expr(a0) else F.length(args[0])
        if f == "coalesce":
            if not args:
                raise CypherCompileError("coalesce() needs at least one arg")
            return F.coalesce(*args)
        if f == "abs":
            need(1); return F.abs(args[0].cast("double"))
        if f == "round":
            if len(args) == 2:
                return F.round(args[0].cast("double"), e.args[1].value)
            need(1)
            return F.round(args[0].cast("double"), 0)
        if f == "ceil":
            need(1); return F.ceil(args[0].cast("double")).cast("long")
        if f == "floor":
            need(1); return F.floor(args[0].cast("double")).cast("long")
        if f == "sqrt":
            need(1); return F.sqrt(args[0].cast("double"))
        if f == "sign":
            need(1); return F.signum(args[0].cast("double")).cast("int")
        if f == "trim":
            need(1); return F.trim(args[0])
        if f == "ltrim":
            need(1); return F.ltrim(args[0])
        if f == "rtrim":
            need(1); return F.rtrim(args[0])
        if f == "reverse":
            need(1); return F.reverse(args[0])
        if f == "replace":
            need(3); return F.replace(args[0], args[1], args[2])
        if f == "split":
            need(2)
            if not (isinstance(e.args[1], ast.Literal) and isinstance(e.args[1].value, str)):
                raise CypherCompileError("split() delimiter must be a string literal")
            import re as _re

            # openCypher split is a LITERAL delimiter; Spark's is a regex
            return F.split(args[0], _re.escape(e.args[1].value))
        if f == "left":
            need(2); return F.substring(args[0], F.lit(1), args[1])
        if f == "right":
            need(2); return F.substring(args[0], -args[1], args[1])
        raise CypherCompileError(f"unknown scalar function {e.func}")

    def _lambda(self, var: str, body, compile_fn):
        """Bind ``var`` to the HOF argument Column while compiling body."""

        def fn(c: Column) -> Column:
            prev = self.lambda_vars.get(var)
            self.lambda_vars[var] = c
            try:
                return compile_fn(body)
            finally:
                if prev is None:
                    del self.lambda_vars[var]
                else:
                    self.lambda_vars[var] = prev

        return fn

    def predicate(self, e) -> Column:
        if isinstance(e, ast.ListPredicate):
            lam = self._lambda(e.var, e.where, self.predicate)
            lst = self.expr(e.list_expr)
            if e.func == "any":
                return F.exists(lst, lam)
            if e.func == "all":
                return F.forall(lst, lam)
            if e.func == "none":
                return ~F.exists(lst, lam)
            if e.func == "single":
                return F.size(F.filter(lst, lam)) == 1
            raise CypherCompileError(f"unknown list predicate {e.func}")
        if isinstance(e, ast.BoolExpr):
            return logical(e.op, *[self.predicate(o) for o in e.operands])
        if isinstance(e, ast.NullCheck):
            c = self.expr(e.expr)
            return c.isNull() if e.is_null else c.isNotNull()
        if isinstance(e, ast.Comparison):
            return self._comparison(e)
        raise CypherCompileError(f"cannot compile predicate {e!r}")

    def _comparison(self, e: ast.Comparison) -> Column:
        # var-to-var compare = node identity by id (Helpers.cpp:171-182);
        # lambda-bound variables are scalars, not nodes — generic compare
        if (
            isinstance(e.left, ast.VarRef)
            and isinstance(e.right, ast.VarRef)
            and e.left.var not in self.lambda_vars
            and e.right.var not in self.lambda_vars
        ):
            l, r = F.col(f"{e.left.var}.id"), F.col(f"{e.right.var}.id")
            return {"==": l == r, "<>": l != r}[e.op]
        if isinstance(e.right, ast.Literal):
            lit = e.right.value
            lhs = self.expr(e.left)
            if e.op == "STARTS_WITH":
                return lhs.startswith(lit)
            if e.op == "ENDS_WITH":
                return lhs.endswith(lit)
            if e.op == "CONTAINS":
                return lhs.contains(lit)
            if e.op == "IN":
                return lhs.isin(lit)
            if e.op == "=~":
                # openCypher =~ is a FULL-string regex match (Java regex
                # matches()); Spark rlike is a substring search — anchor it
                return lhs.rlike(f"^(?:{lit})$")
            return coerced_compare(lhs, e.op, lit)
        # value-to-value (e.g. n.a = m.b): cast both as-is
        lhs, rhs = self.expr(e.left), self.expr(e.right)
        import operator as _op

        return {
            "==": _op.eq, "<>": _op.ne, "<": _op.lt,
            ">": _op.gt, "<=": _op.le, ">=": _op.ge,
        }[e.op](lhs, rhs)

    # ---------------- return ----------------
    def _item_name(self, item: ast.ReturnItem) -> str:
        if item.alias:
            return item.alias
        e = item.expr
        if isinstance(e, ast.PropRef):
            return f"{e.var}.{e.key}"
        if isinstance(e, ast.VarRef):
            return e.var
        if isinstance(e, ast.IdFunc):
            return f"id({e.var})"
        if isinstance(e, ast.LabelsFunc):
            return f"labels({e.var})"
        if isinstance(e, ast.TypeFunc):
            return f"type({e.var})"
        if isinstance(e, ast.PathFunc):
            return f"{e.func}({e.var})"
        if isinstance(e, ast.ScalarFunc):
            inner = ",".join(self._item_name(ast.ReturnItem(a)) for a in e.args)
            return f"{e.func}({inner})"
        if isinstance(e, ast.Aggregate):
            inner = self._item_name(ast.ReturnItem(e.expr)) if e.expr else "*"
            return f"{e.func}({inner})"
        if isinstance(e, ast.BinaryOp):
            return (
                f"{self._item_name(ast.ReturnItem(e.left))} {e.op} "
                f"{self._item_name(ast.ReturnItem(e.right))}"
            )
        return "expr"

    def _find_pattern_comprehensions(self, e, found: list) -> None:
        import dataclasses

        if isinstance(e, ast.PatternComprehension):
            found.append(e)
            return
        if dataclasses.is_dataclass(e) and not isinstance(e, type):
            for f in dataclasses.fields(e):
                v = getattr(e, f.name)
                for item in v if isinstance(v, (list, tuple)) else [v]:
                    self._find_pattern_comprehensions(item, found)

    def materialize_pattern_comprehensions(
        self, df: DataFrame, q: ast.Query
    ) -> DataFrame:
        """One derived column per pattern comprehension in the RETURN
        items: compile the subpattern anchored at its (bound) first
        variable over the DISTINCT anchors, evaluate the projection in
        the subpattern's scope, collect_list per anchor (sorted — the
        deterministic choice openCypher leaves open), LEFT JOIN back and
        coalesce no-match rows to the empty list."""
        found: list = []
        for it in q.return_items:
            self._find_pattern_comprehensions(it.expr, found)
        if not found:
            return df
        self._pc_cols = getattr(self, "_pc_cols", {})
        for i, pc in enumerate(found):
            anchor = pc.pattern.nodes[0].var
            if anchor is None or anchor not in self.node_vars:
                raise CypherCompileError(
                    "pattern comprehension must start at a bound variable"
                )
            start = (
                df.select(F.col(anchor))
                .withColumn("__aid", F.col(f"{anchor}.id"))
                .dropDuplicates(["__aid"])
                .drop("__aid")
            )
            saved_nodes, saved_rels = set(self.node_vars), set(self.rel_vars)
            sub = self.compile_pattern(pc.pattern, start)
            if pc.where is not None:
                sub = ops.filter_rows(sub, self.predicate(pc.where))
            name = f"__pc{len(self._pc_cols)}"
            proj = sub.select(
                F.col(f"{anchor}.id").alias("__aid"),
                self.expr(pc.map_expr).alias("__v"),
            )
            self.node_vars, self.rel_vars = saved_nodes, saved_rels
            lists = proj.groupBy("__aid").agg(
                F.sort_array(F.collect_list("__v")).alias(name)
            )
            df = df.join(lists, F.col(f"{anchor}.id") == F.col("__aid"), "left").drop(
                "__aid"
            )
            dtype = dict(df.dtypes)[name]
            df = df.withColumn(
                name, F.coalesce(F.col(name), F.expr(f"cast(array() as {dtype})"))
            )
            self._pc_cols[id(pc)] = name
        return df

    def compile_return(self, df: DataFrame, q: ast.Query) -> DataFrame:
        df = self.materialize_pattern_comprehensions(df, q)
        aggs = [
            (i, it) for i, it in enumerate(q.return_items) if isinstance(it.expr, ast.Aggregate)
        ]
        names = [self._item_name(it) for it in q.return_items]
        if aggs:
            group_items = [
                (n, it) for n, it in zip(names, q.return_items)
                if not isinstance(it.expr, ast.Aggregate)
            ]
            group_cols = [self.expr(it.expr).alias(n) for n, it in group_items]
            agg_map = {}
            for n, it in zip(names, q.return_items):
                if not isinstance(it.expr, ast.Aggregate):
                    continue
                a: ast.Aggregate = it.expr
                agg_map[n] = self._agg_col(a)
            out = ops.aggregate(df, group_cols or None, agg_map)
            # restore declared column order (backticks: names may contain '.')
            out = out.select(*[F.col(f"`{n}`") for n in names])
        else:
            out = df.select(*[self._return_col(it.expr).alias(n) for n, it in zip(names, q.return_items)])
        if q.distinct:
            out = ops.distinct(out)
        if q.order_by:
            keys = []
            for oi in q.order_by:
                named = self._order_name(oi.expr, names, q)
                c = F.col(f"`{named}`") if named else self.expr(oi.expr)
                # openCypher/Neo4j null placement: nulls LAST ascending,
                # FIRST descending (null = largest)
                keys.append(c.asc_nulls_last() if oi.ascending else c.desc_nulls_first())
            out = ops.order_by(out, *keys)
        return ops.limit_skip(out, q.limit, q.skip or 0)

    def _order_name(self, e, names: list[str], q: ast.Query) -> str | None:
        """ORDER BY may reference a returned item (by alias or same shape)."""
        cand = self._item_name(ast.ReturnItem(e))
        if cand in names:
            return cand
        if q is not None and isinstance(e, ast.VarRef):
            for it, n in zip(q.return_items, names):
                if it.alias == e.var:
                    return e.var
        return None

    def _return_col(self, e) -> Column:
        if isinstance(e, ast.VarRef) and e.var in self.node_vars | self.rel_vars:
            return F.col(e.var)  # whole variable → struct column
        if isinstance(e, ast.Aggregate):
            raise CypherCompileError("aggregate outside aggregation context")
        return self.expr(e)

    # ---------------- EXISTS pattern predicates ----------------
    def split_exists(self, where):
        """Split a WHERE tree into (exists-pattern conjuncts, residual
        column predicate). EXISTS is supported as a top-level conjunct
        (optionally NOT-wrapped) — the common Cypher shape."""
        exists_parts: list[ast.ExistsPattern] = []

        def walk(e):
            if isinstance(e, ast.ExistsPattern):
                exists_parts.append(e)
                return None
            if isinstance(e, ast.BoolExpr) and e.op == "NOT" and len(e.operands) == 1 and isinstance(
                e.operands[0], ast.ExistsPattern
            ):
                inner = e.operands[0]
                exists_parts.append(ast.ExistsPattern(pattern=inner.pattern, negated=True))
                return None
            if isinstance(e, ast.BoolExpr) and e.op == "AND":
                kept = [w for w in (walk(o) for o in e.operands) if w is not None]
                if not kept:
                    return None
                return kept[0] if len(kept) == 1 else ast.BoolExpr("AND", kept)
            return e

        residual = walk(where)
        return exists_parts, residual

    def apply_exists(self, df: DataFrame, ep: "ast.ExistsPattern") -> DataFrame:
        """Semi/anti-join the bound rows against the EXISTS subpattern,
        anchored at its (already-bound) first variable."""
        anchor = ep.pattern.nodes[0].var
        if anchor is None or anchor not in self.node_vars:
            raise CypherCompileError("EXISTS pattern must start at a bound variable")
        start = (
            df.select(F.col(anchor))
            .withColumn("__aid", F.col(f"{anchor}.id"))
            .dropDuplicates(["__aid"])
            .drop("__aid")
        )
        # compile in a scratch scope so subpattern vars don't leak
        saved_nodes, saved_rels = set(self.node_vars), set(self.rel_vars)
        sub = self.compile_pattern(ep.pattern, start)
        self.node_vars, self.rel_vars = saved_nodes, saved_rels
        keys = sub.select(F.col(f"{anchor}.id").alias("__aid")).distinct()
        how = "left_anti" if ep.negated else "left_semi"
        return df.join(keys, F.col(f"{anchor}.id") == F.col("__aid"), how)

    # ---------------- OPTIONAL MATCH ----------------
    def compile_optional(self, df: DataFrame, clause: "ast.MatchClause") -> DataFrame:
        """OPTIONAL MATCH: compile the pattern (+ its WHERE) as an *inner*
        subquery anchored at the bound first variable, then LEFT JOIN the
        result back on the anchor id. Rows whose pattern finds no match —
        structurally or because of the WHERE — survive null-extended,
        which a post-join filter cannot express.

        At scale the anchor side of the subquery is the distinct frontier,
        so the optional expansion only touches reachable adjacency."""
        if len(clause.patterns) != 1:
            raise CypherCompileError("OPTIONAL MATCH supports a single pattern")
        pattern = clause.patterns[0]
        anchor = pattern.nodes[0].var
        if anchor is None or anchor not in self.node_vars:
            raise CypherCompileError(
                "OPTIONAL MATCH must start at an already-bound variable"
            )
        # distinct anchors — dedup on id (map-typed properties forbid
        # struct set-operations)
        start = (
            df.select(F.col(anchor))
            .withColumn("__aid", F.col(f"{anchor}.id"))
            .dropDuplicates(["__aid"])
            .drop("__aid")
        )
        sub = self.compile_pattern(pattern, start)
        if clause.where is not None:
            sub = ops.filter_rows(sub, self.predicate(clause.where))
        sub = sub.withColumnRenamed(anchor, "__anchor")
        return df.join(
            sub, F.col(f"{anchor}.id") == F.col("__anchor.id"), "left"
        ).drop("__anchor")

    # ---------------- WITH / UNWIND ----------------
    def apply_with(self, df: DataFrame, wc: "ast.WithClause") -> DataFrame:
        """WITH clause: re-projection barrier (the reference's Apply
        operator is the sequencing pass-through for multi-part queries —
        Operators.h:261-272; real column semantics here).

        Bare variables carry their struct binding forward (optionally
        renamed); everything else becomes a scalar column. Variables not
        listed go out of scope."""
        if df is None:
            raise CypherCompileError("WITH requires a preceding MATCH/UNWIND clause")
        names = [self._item_name(it) for it in wc.items]
        has_agg = any(isinstance(it.expr, ast.Aggregate) for it in wc.items)
        if has_agg:
            group_cols = [
                self._with_col(it).alias(n)
                for n, it in zip(names, wc.items)
                if not isinstance(it.expr, ast.Aggregate)
            ]
            aggs = {
                n: self._agg_col(it.expr)
                for n, it in zip(names, wc.items)
                if isinstance(it.expr, ast.Aggregate)
            }
            out = ops.aggregate(df, group_cols or None, aggs)
            out = out.select(*[F.col(f"`{n}`") for n in names])
        else:
            out = df.select(*[self._with_col(it).alias(n) for n, it in zip(names, wc.items)])
        # rebind variable scopes
        new_nodes, new_rels = set(), set()
        new_lists: set[str] = set()
        for n, it in zip(names, wc.items):
            if isinstance(it.expr, ast.VarRef):
                if it.expr.var in self.node_vars:
                    new_nodes.add(n)
                elif it.expr.var in self.rel_vars:
                    new_rels.add(n)
                elif it.expr.var in self.list_vars:
                    new_lists.add(n)
            elif self._is_list_expr(it.expr):
                new_lists.add(n)
        self.node_vars, self.rel_vars = new_nodes, new_rels
        self.list_vars = new_lists
        if wc.distinct:
            out = ops.distinct(out)
        if wc.order_by:
            keys = []
            for oi in wc.order_by:
                named = self._order_name(oi.expr, names, None)
                c = F.col(f"`{named}`") if named else self.expr(oi.expr)
                keys.append(c.asc_nulls_last() if oi.ascending else c.desc_nulls_first())
            out = ops.order_by(out, *keys)
        out = ops.limit_skip(out, wc.limit, wc.skip or 0)
        if wc.where is not None:
            out = ops.filter_rows(out, self.predicate(wc.where))
        return out

    def _with_col(self, it: "ast.ReturnItem") -> Column:
        if isinstance(it.expr, ast.VarRef) and it.expr.var in self.node_vars | self.rel_vars:
            return F.col(it.expr.var)
        return self.expr(it.expr)

    def apply_call(self, df: DataFrame | None, cc: "ast.CallClause") -> DataFrame:
        """CALL proc(args) YIELD cols [WHERE p]: the procedure result is a
        plain DataFrame; YIELD projects it, WHERE filters it, and a
        preceding bound frame composes by cross join (each bound row sees
        the full procedure table — openCypher CALL semantics)."""
        from jasminegraph_spark.cypher.procedures import resolve

        try:
            fn = resolve(cc.proc)
        except KeyError as e:
            raise CypherCompileError(str(e)) from None
        res = fn(self.graph, *cc.args)
        if cc.yields:
            missing = [y for y in cc.yields if y not in res.columns]
            if missing:
                raise CypherCompileError(
                    f"procedure {cc.proc} does not yield {missing}; "
                    f"available: {res.columns}"
                )
            res = res.select(*cc.yields)
        if cc.where is not None:
            res = ops.filter_rows(res, self.predicate(cc.where))
        if df is None:
            return res
        return ops.cartesian_product(df, res)

    def apply_unwind(self, df: DataFrame | None, uc: "ast.UnwindClause") -> DataFrame:
        """UNWIND list AS x — one row per element (explode)."""
        if isinstance(uc.expr, ast.Literal) and isinstance(uc.expr.value, list):
            col = F.explode(F.array(*[F.lit(v) for v in uc.expr.value]))
        else:
            col = F.explode(self.expr(uc.expr))
        if df is None:
            df = self.graph.nodes.sparkSession.range(1).drop("id")
        return df.withColumn(uc.var, col)

    def _agg_col(self, a: ast.Aggregate) -> Column:
        if a.func == "count" and a.expr is None:
            return F.count("*")
        inner = self.expr(a.expr)
        # numeric aggregates coerce string-stored properties to double
        # (reference avg does stod on strings — Helpers.cpp:332-345)
        if a.func in ("avg", "sum"):
            inner = inner.cast("double")
        if a.distinct:
            # distinct-aware variants (min/max are distinct-invariant);
            # avg(DISTINCT) = sum over the distinct value set / its size
            if a.func == "count":
                return F.count_distinct(inner)
            if a.func == "sum":
                return F.sum_distinct(inner)
            if a.func == "avg":
                return F.sum_distinct(inner) / F.count_distinct(inner)
            if a.func == "collect":
                return F.collect_set(inner)
        fn = {
            "avg": F.avg, "sum": F.sum, "min": F.min, "max": F.max,
            "count": F.count, "collect": F.collect_list,
        }[a.func]
        return fn(inner)


def cypher_create(spark, text: str):
    """Compile a CREATE clause to (nodes_df, edges_df) ready for
    ``graph.append`` (reference Create operator, Operators.h:286-295 +
    Helpers.cpp:347-784 — partition routing via streaming partitioner there,
    writer hash-partitioning here).
    """
    from jasminegraph_spark.graph import EDGE_SCHEMA, NODE_SCHEMA

    node_rows, edge_rows = create_rows(parse(text))
    nodes_df = spark.createDataFrame(node_rows, NODE_SCHEMA)
    edges_df = spark.createDataFrame(edge_rows, EDGE_SCHEMA)
    return nodes_df, edges_df


def node_id(labels: list, props: dict) -> str:
    """A created node's identity, shared by CREATE and a MERGE miss: the
    ``id`` property when given, else a deterministic hash of (labels,
    properties) — CREATE without ids stays reproducible. ``props`` holds
    string values."""
    if "id" in props:
        return props["id"]
    basis = f"{sorted(labels)}|{sorted(props.items())}"
    return hashlib.md5(basis.encode()).hexdigest()[:16]


def create_rows(q: "ast.Query") -> tuple[list, list]:
    """The node and edge rows of a parsed CREATE query, as plain tuples in
    NODE_SCHEMA / EDGE_SCHEMA order, each node id from ``node_id``."""
    if not q.is_create:
        raise CypherCompileError("cypher_create expects a CREATE clause")
    node_rows, edge_rows = [], []
    ids: dict[str, str] = {}
    for p in q.patterns:
        for n in p.nodes:
            props = {k: str(v) for k, v in n.props.items()}
            nid = node_id(n.labels, props)
            if n.var:
                ids[n.var] = nid
            node_rows.append((nid, n.labels[0] if n.labels else None, props))
        for i, rel in enumerate(p.rels):
            src = node_rows[len(node_rows) - len(p.nodes) + i][0] if not p.nodes[i].var else ids[p.nodes[i].var]
            dst = node_rows[len(node_rows) - len(p.nodes) + i + 1][0] if not p.nodes[i + 1].var else ids[p.nodes[i + 1].var]
            if rel.direction == "in":
                src, dst = dst, src
            props = {k: str(v) for k, v in rel.props.items()}
            rid = props.get("id", f"{src}->{dst}:{rel.types[0] if rel.types else i}")
            edge_rows.append((rid, src, dst, rel.types[0] if rel.types else None, props))
    return node_rows, edge_rows


def cypher_query(graph: PropertyGraph, text: str) -> DataFrame:
    """Parse + compile + return the result DataFrame.

    The full reference lifecycle (ANTLR → AST → semantic analysis →
    planner → JSON plan → per-worker interpreters → socket merge,
    CypherQueryExecutor.cpp:69-388) collapses to: parse → compile →
    Catalyst. collect()/toLocalIterator() at the call site replaces the
    master merge.
    """
    return _compile_parsed(graph, parse(text))


def _compile_parsed(graph: PropertyGraph, q: "ast.Query") -> DataFrame:
    """Compile an already-parsed read query; UNION arms recurse here,
    each with a FRESH compiler scope (openCypher arms are independent
    queries; only return column names must line up — unionByName errors
    loudly on a mismatch, matching the spec's rule)."""
    comp = _Compiler(graph)
    df: DataFrame | None = None
    for clause in q.clauses:
        if isinstance(clause, ast.MatchClause):
            if clause.optional:
                df = comp.compile_optional(df, clause)
                continue
            rels_before = set(comp.rel_vars)
            for pattern in clause.patterns:
                df = comp.compile_pattern(pattern, df)
            # relationship uniqueness within this MATCH clause (Cypher
            # scopes uniqueness per clause; the reference injects the same
            # filters, QueryPlanner.cpp:571-582). Same-path pairs are
            # already handled inside compile_pattern/expand_all.
            new_rels = sorted(comp.rel_vars - rels_before)
            for i, r1 in enumerate(new_rels):
                for r2 in new_rels[i + 1 :]:
                    df = df.filter(F.col(f"{r1}.id") != F.col(f"{r2}.id"))
            if clause.where is not None:
                exists_parts, residual = comp.split_exists(clause.where)
                for ep in exists_parts:
                    df = comp.apply_exists(df, ep)
                if residual is not None:
                    df = ops.filter_rows(df, comp.predicate(residual))
        elif isinstance(clause, ast.WithClause):
            df = comp.apply_with(df, clause)
        elif isinstance(clause, ast.UnwindClause):
            df = comp.apply_unwind(df, clause)
        elif isinstance(clause, ast.CallClause):
            df = comp.apply_call(df, clause)
        else:
            raise CypherCompileError(f"unsupported clause {clause!r}")
    out = comp.compile_return(df, q)
    if q.union_with:
        # openCypher forbids mixing UNION and UNION ALL in one chain
        # (Neo4j: "Invalid combination of UNION and UNION ALL") — with a
        # homogeneous chain, the right-nested parse is equivalent to the
        # spec's left-associative evaluation
        flags, cur = [], q
        while cur.union_with:
            fl, nxt = cur.union_with[0]
            flags.append(fl)
            cur = nxt
        if len(set(flags)) > 1:
            raise CypherCompileError("invalid combination of UNION and UNION ALL")
    for all_flag, subq in q.union_with:
        sub = _compile_parsed(graph, subq)
        out = out.unionByName(sub)
        if not all_flag:
            out = ops.distinct(out)
    return out
