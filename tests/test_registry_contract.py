"""Driver-contract invariants: the registry is what the harness grades."""

from __future__ import annotations

from u_s__non_farm_payrolls_an_olap_analysis_spark import registry


def test_registry_shape():
    q = registry.queries()
    o = registry.oracle_sql()
    assert len(q) >= 44
    assert set(o) <= set(q)
    for name, fn in q.items():
        assert callable(fn), name
    # rows-only ops are the documented engine-specific-hash ones
    rows_only = set(q) - set(o)
    assert rows_only <= {"dedup_minhash_near", "dedup_simhash",
                         "dedup_embedding_cosine",
                         "dedup_embedding_cosine_prod",
                         "agg_approx_count_distinct",
                         "agg_approx_percentiles",
                         "agg_hll_sketch_merge"}


def test_entry_contract(spark):
    import __spark_entry__ as E

    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"year", "avg_totalprice"}


def test_sample_priority_subset_and_dedup():
    """The driver samples the FIRST 50 registry keys; a stale or mistyped
    `_SAMPLE_PRIORITY` entry would either crash queries() at driver time
    or silently waste a sample slot on a duplicate."""
    q = registry.queries()
    pri = registry._SAMPLE_PRIORITY
    assert set(pri) <= set(q), sorted(set(pri) - set(q))
    assert len(pri) == len(set(pri)), "duplicate keys in _SAMPLE_PRIORITY"
    # priority keys must actually lead the iteration order
    assert list(q)[: len(pri)] == pri


def test_sample_window_freshness():
    """Encodes CLAUDE.md rule 7 / VERDICT r13 item 7 permanently: the
    driver verifies only the FIRST 50 registry keys per round, so keys
    the driver has never hash-checked must lead `_SAMPLE_PRIORITY`, and
    registry growth must stay below the verification rate.

    Tolerances are sized so the test stays green when the driver writes
    a fresh CORRECTNESS_r{N}.json at round end (one round of pruning
    lag), but fails at the NEXT round's first no-Spark gate run if the
    recorded keys were not pruned from the priority list.
    """
    import glob
    import json
    import pathlib

    repo = pathlib.Path(__file__).resolve().parents[1]
    recorded: set[str] = set()
    for f in glob.glob(str(repo / "CORRECTNESS_r*.json")):
        try:
            recorded |= set(json.load(open(f)))
        except Exception:  # noqa: BLE001 - a malformed driver file is not ours
            continue
    q = list(registry.queries())
    never = [k for k in q if k not in recorded]
    pri = registry._SAMPLE_PRIORITY

    # 1. Growth throttle: never-sampled backlog must shrink toward zero,
    #    never exceed two driver windows.
    assert len(never) <= 100, (
        f"{len(never)} registry keys have no driver CORRECTNESS row; "
        "stop adding queries until the sample debt clears (CLAUDE.md rule 7)"
    )
    # 2. Every never-sampled key must be in the priority list at all
    #    (otherwise module merge order can starve it forever).
    stranded = [k for k in never if k not in pri]
    assert not stranded, f"never-sampled keys missing from _SAMPLE_PRIORITY: {stranded}"
    # 3. Pruning lag bound: at most one round's worth (50) + slack of
    #    already-recorded keys may linger in the priority list.
    stale = [k for k in pri if k in recorded]
    assert len(stale) <= 55, (
        f"{len(stale)} recorded keys still in _SAMPLE_PRIORITY — prune them "
        f"(first few: {stale[:5]})"
    )
    # 4. Never-sampled keys must not sit BEHIND stale recorded keys in
    #    the first-50 window while never-sampled keys remain unsampled.
    window = q[:50]
    if len(never) >= 50:
        blocked = [k for k in window if k in recorded]
        assert not blocked, (
            f"recorded keys occupy driver-sample slots while {len(never)} "
            f"keys are never-sampled: {blocked[:5]}"
        )


def test_function_global_names_resolve():
    """The round-12 NameError class, caught statically: an operator
    appended to a module tail that uses a name (``dsum``/``dround``/...)
    imported only INSIDE a sibling function raises NameError at plan
    time — invisible to import, to AST import checks, and to the no-Spark
    gate. ``symtable`` sees it: every name a function resolves GLOBALLY
    must be defined at module level (import / def / assign, incl. inside
    try/if blocks) or be a builtin. Zero false positives on the current
    tree; self-tested against a synthetic sibling-local-import repro."""
    import ast
    import builtins
    import pathlib
    import symtable

    allow = {
        "__name__", "__file__", "__doc__", "__package__", "__spec__",
        "__loader__", "__builtins__", "__annotations__",
    }

    def module_level_names(tree: ast.Module) -> set[str]:
        names: set[str] = set()
        for node in tree.body:
            # conditional defs (try/except ImportError, if-gated) count
            nodes = (
                ast.walk(node)
                if isinstance(node, (ast.If, ast.Try, ast.For, ast.While,
                                     ast.With))
                else [node]
            )
            for sub in nodes:
                if isinstance(sub, ast.Import):
                    for a in sub.names:
                        names.add((a.asname or a.name).split(".")[0])
                elif isinstance(sub, ast.ImportFrom):
                    for a in sub.names:
                        names.add(a.asname or a.name)
                elif isinstance(sub, (ast.FunctionDef, ast.AsyncFunctionDef,
                                      ast.ClassDef)):
                    names.add(sub.name)
                elif isinstance(sub, ast.Assign):
                    for t in sub.targets:
                        for n in ast.walk(t):
                            if isinstance(n, ast.Name):
                                names.add(n.id)
                elif isinstance(sub, ast.AnnAssign) and isinstance(
                    sub.target, ast.Name
                ):
                    names.add(sub.target.id)
        return names

    pkg = (
        pathlib.Path(__file__).resolve().parents[1]
        / "u_s__non_farm_payrolls_an_olap_analysis_spark"
    )
    problems: list[str] = []
    for py in sorted(pkg.rglob("*.py")):
        src = py.read_text()
        tree = ast.parse(src)
        defined = module_level_names(tree) | allow | set(dir(builtins))
        table = symtable.symtable(src, str(py), "exec")

        def walk(t, where: str) -> None:
            if t.get_type() == "function":
                for sym in t.get_symbols():
                    if (
                        sym.is_global()
                        and not sym.is_assigned()
                        and sym.get_name() not in defined
                    ):
                        problems.append(
                            f"{py.name}:{where}: unresolved global "
                            f"'{sym.get_name()}'"
                        )
            for child in t.get_children():
                walk(child, f"{where}.{child.get_name()}")

        walk(table, py.stem)
    assert not problems, "\n".join(problems)


def test_every_oracle_sql_executes_in_duckdb():
    """Cheap pytest-level twin of the parity script's DuckDB half: every
    oracle string must EXECUTE against the sf0.001 views (syntax errors,
    renamed columns, dialect slips surface from `pytest` alone, without
    waiting for scripts/check_parity.py). Values are checked by the
    parity gate; here only executability and non-None cursor result."""
    import duckdb

    from u_s__non_farm_payrolls_an_olap_analysis_spark import registry

    con = duckdb.connect()
    sf = "/root/testdata/sf0.001"
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * "
            f"FROM read_parquet('{sf}/{t}.parquet')"
        )
    failures = []
    for name, sql in registry.oracle_sql().items():
        try:
            con.execute(sql).fetchall()
        except Exception as e:  # noqa: BLE001 - collect every breakage
            failures.append(f"{name}: {str(e)[:150]}")
    assert not failures, "\n".join(failures)


def _private_state_devices(src: str, rel: str) -> list[str]:
    """Ways an engine module can grow its own derived-state policy: a
    per-process temp base (``tempfile.mkdtemp``), an exit hook
    (``atexit``), or a module-level path-memo dict (``*MEMO*``). The two
    serving-path memos, invalidated by ``io.clear_table_cache()``, are
    allowed."""
    import ast

    allowed = {("io.py", "_TABLE_MEMO"), ("functions/plan_cache.py", "_MEMO")}
    tree = ast.parse(src)
    out = []
    for node in ast.walk(tree):
        names = []
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            names = [node.module] + [a.name for a in node.names]
        elif isinstance(node, ast.Attribute):
            names = [node.attr]
        out += [
            f"{rel}:{node.lineno}: {n}"
            for n in names
            if n in ("atexit", "mkdtemp")
        ]
    for node in tree.body:
        if not isinstance(node, (ast.Assign, ast.AnnAssign)):
            continue
        v = node.value
        if not isinstance(v, ast.Dict) and not (
            isinstance(v, ast.Call) and getattr(v.func, "id", None) == "dict"
        ):
            continue
        targets = node.targets if isinstance(node, ast.Assign) else [node.target]
        out += [
            f"{rel}:{node.lineno}: module-level {t.id}"
            for t in targets
            if isinstance(t, ast.Name)
            and "MEMO" in t.id
            and (rel, t.id) not in allowed
        ]
    return out


def test_derived_state_has_one_owner():
    """Every on-disk copy of a source table is keyed by that table's
    content signature in ONE place, ``functions/derived.py`` (the path is
    the memo, so a write rebuilds the state). Any other engine module
    that calls ``tempfile.mkdtemp``, registers an ``atexit`` hook or
    keeps a module-level path memo is a private freshness policy — the
    shape that left five keys answering from pre-write tables.
    Self-tested against a synthetic repro of each device."""
    import pathlib

    repro = (
        "import atexit, tempfile\n"
        "_DIR_MEMO: dict[str, str] = {}\n"
        "_OTHER_MEMO = dict()\n"
        "def f():\n"
        "    d = tempfile.mkdtemp()\n"
        "    atexit.register(print, d)\n"
    )
    assert len(_private_state_devices(repro, "x.py")) == 4
    pkg = pathlib.Path(registry.__file__).resolve().parent
    problems = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel != "functions/derived.py":
            problems += _private_state_devices(path.read_text(), rel)
    assert not problems, "\n".join(problems)


def _engine_walk(src: str, rel: str, hit) -> list[str]:
    """The one-owner tests' shared AST walker: visit every node of one
    engine module and emit ``rel:lineno: fn`` (plus the tag ``hit``
    returns) for each node ``hit(node, scope)`` flags, where ``fn``
    names the innermost enclosing function (``<module>`` at top level)
    and ``scope`` is that function's node. ``hit`` returns None to pass
    a node, ``""`` or `` <tag>`` to flag it."""
    import ast

    out = []

    def visit(node, fn, scope):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child.name, child)
                continue
            tag = hit(child, scope)
            if tag is not None:
                out.append(f"{rel}:{child.lineno}: {fn}{tag}")
            visit(child, fn, scope)

    tree = ast.parse(src)
    visit(tree, "<module>", tree)
    return out


def _unowned(find, owners: set[str]) -> tuple[list[str], set[str]]:
    """Run ``find(src, rel)`` over every engine module. A hit is owned
    when its module (``rel``) or its ``rel:fn tag`` key is in ``owners``;
    returns the unowned hits and the owners that were hit."""
    import pathlib

    pkg = pathlib.Path(registry.__file__).resolve().parent
    problems, owned = [], set()
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        for hit in find(path.read_text(), rel):
            key = f"{rel}:{hit.split(': ', 1)[1]}"
            owner = next((o for o in (rel, key) if o in owners), None)
            if owner is None:
                problems.append(hit)
            else:
                owned.add(owner)
    return problems, owned


def _convergence_loops(src: str, rel: str) -> list[str]:
    """Hand-rolled convergence loops: a ``for``/``while`` whose body both
    ``break``s and calls ``localCheckpoint`` — the round cap, per-round
    lineage cut and early exit that ``functions/iterate.fixpoint`` owns.
    Each hit names its innermost enclosing function."""
    import ast

    def hit(node, scope):
        if not isinstance(node, (ast.For, ast.While)):
            return None
        inner = list(ast.walk(node))
        if any(isinstance(n, ast.Break) for n in inner) and any(
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "localCheckpoint"
            for n in inner
        ):
            return ""
        return None

    return _engine_walk(src, rel, hit)


def test_convergence_loop_has_one_owner():
    """Every per-round-checkpointed iteration that can stop early runs
    through ``functions/iterate.fixpoint``: no other
    engine module may hand-roll a loop that checkpoints each round and
    ``break``s on convergence. Self-tested against a synthetic repro."""

    repro = (
        "def f(df):\n"
        "    for r in range(9):\n"
        "        df = step(df).localCheckpoint(eager=True)\n"
        "        if df.count() == 0:\n"
        "            break\n"
        "    while True:\n"
        "        break\n"
        "    for r in range(3):\n"
        "        df = df.localCheckpoint(eager=True)\n"
    )
    assert _convergence_loops(repro, "x.py") == ["x.py:2: f"]
    problems, _ = _unowned(_convergence_loops, {"functions/iterate.py"})
    assert not problems, "\n".join(problems)


def _monthly_orders_groupbys(src: str, rel: str) -> list[str]:
    """``groupBy`` calls keyed by the month of ``o_orderdate``: a
    ``month_start(...)`` or ``date_trunc("month", ...)`` of that column,
    or a month index — its year AND its month (``year``/``year_of`` with
    ``month``/``month_of``) — anywhere in the grouping arguments. Each
    hit names its innermost enclosing function."""
    import ast

    def orderdate_parts(args) -> set[str]:
        parts = set()
        for n in (n for a in args for n in ast.walk(a)):
            if not isinstance(n, ast.Call) or not any(
                isinstance(c, ast.Constant) and c.value == "o_orderdate"
                for c in ast.walk(n)
            ):
                continue
            f = n.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
            if name == "month_start" or (
                name == "date_trunc"
                and n.args
                and isinstance(n.args[0], ast.Constant)
                and str(n.args[0].value).lower() == "month"
            ):
                parts.add("month_start")
            elif name in ("year", "year_of", "month", "month_of"):
                parts.add(name.removesuffix("_of"))
        return parts

    def monthly(args) -> bool:
        parts = orderdate_parts(args)
        return "month_start" in parts or {"year", "month"} <= parts

    def hit(node, scope):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "groupBy"
            and monthly(node.args)
        ):
            return ""
        return None

    return _engine_walk(src, rel, hit)


def test_monthly_series_has_one_owner():
    """The monthly series over ``orders`` is built in ONE place,
    ``functions/timeparts.monthly_partials``: no other engine module may
    group by the month of ``o_orderdate``, whether as a month start or as
    a year-and-month index. Self-tested against a synthetic repro of
    every spelling (and of those that must pass: a month of another
    column, a day of ``o_orderdate``, a month of the year alone, a year
    with another column's month)."""

    repro = (
        "def f(orders, ev):\n"
        "    a = orders.groupBy(month_start('o_orderdate').alias('ms'))\n"
        "    b = orders.groupBy(\n"
        "        F.col('o_orderpriority'),\n"
        "        F.date_trunc('month', 'o_orderdate').alias('mon'),\n"
        "    )\n"
        "    c = ev.groupBy(F.date_trunc('month', 'ts'))\n"
        "    d = orders.groupBy(F.date_trunc('day', 'o_orderdate'))\n"
        "    e = orders.groupBy(\n"
        "        'o_orderpriority',\n"
        "        (F.year('o_orderdate') * 12 + F.month('o_orderdate')).alias('x'),\n"
        "    )\n"
        "    g = orders.groupBy(year_of('o_orderdate'), month_of('o_orderdate'))\n"
        "    h = orders.groupBy(F.month('o_orderdate'))\n"
        "    i = orders.groupBy(F.year('o_orderdate'), F.month('l_shipdate'))\n"
    )
    assert _monthly_orders_groupbys(repro, "x.py") == [
        "x.py:2: f",
        "x.py:3: f",
        "x.py:9: f",
        "x.py:13: f",
    ]
    problems, _ = _unowned(_monthly_orders_groupbys, {"functions/timeparts.py"})
    assert not problems, "\n".join(problems)


def _retrieval_copies(src: str, rel: str) -> list[str]:
    """Hand-rolled copies of the retrieval stream's two shared steps: a
    query/corpus split (a ``vec_id`` compared ``<`` with ``N_QUERIES``,
    the query-block cut every split makes) and an int8 quantizer (a
    division by 127). Each hit names its kind and innermost enclosing
    function."""
    import ast

    def hit(node, scope):
        if (
            isinstance(node, ast.Compare)
            and any(
                isinstance(c, ast.Constant) and c.value == "vec_id"
                for c in ast.walk(node.left)
            )
            and any(
                isinstance(op, ast.Lt)
                and isinstance(c, ast.Name)
                and c.id == "N_QUERIES"
                for op, c in zip(node.ops, node.comparators)
            )
        ):
            return " split"
        if (
            isinstance(node, ast.BinOp)
            and isinstance(node.op, ast.Div)
            and isinstance(node.right, ast.Constant)
            and node.right.value == 127
        ):
            return " int8"
        return None

    return _engine_walk(src, rel, hit)


def test_retrieval_stream_has_one_owner():
    """The retrieval stream's split and quantizer are each written once,
    in ``operators/similarity.py``: only ``_sides`` cuts the query block
    off the embeddings (``vec_id < N_QUERIES``) and only ``_int8_scaled``
    divides by 127. Self-tested against a synthetic repro (and spellings
    that must pass: the corpus-side cut, a codebook range, another
    column's compare, a division by another constant)."""

    repro = (
        "def f(emb, codes):\n"
        "    q = emb.filter(F.col('vec_id') < N_QUERIES)\n"
        "    c = emb.filter(F.col('vec_id') >= N_QUERIES)\n"
        "    cb = emb.filter(F.col('vec_id') < N_QUERIES + IVF_K)\n"
        "    d = emb.filter(F.col('doc_id') < N_QUERIES)\n"
        "    s = F.array_max(x) / 127.0\n"
        "    t = F.array_max(x) / 255\n"
        "def g(codes):\n"
        "    return codes.filter(F.col('vec_id') < N_QUERIES), F.lit(9) / 127\n"
    )
    assert _retrieval_copies(repro, "x.py") == [
        "x.py:2: f split",
        "x.py:6: f int8",
        "x.py:9: g split",
        "x.py:9: g int8",
    ]
    owners = {
        "operators/similarity.py:_sides split",
        "operators/similarity.py:_int8_scaled int8",
    }
    problems, owned = _unowned(_retrieval_copies, owners)
    assert owned == owners
    assert not problems, "\n".join(problems)


def _top_k_cuts(src: str, rel: str) -> list[str]:
    """Hand-rolled per-group heads: a ``filter``/``where`` that compares a
    column bound to ``row_number`` in the same function (by
    ``withColumn``, or by ``alias`` in a ``select`` that computes no
    other window function) with ``<=``, ``<`` or ``==`` against an int
    constant or an ALL-CAPS constant name — the fixed-k cut
    ``functions/ranks.top_k`` owns. A number that shares its window with
    a running aggregate (average precision's hit count) is not a bare
    cut. Each hit names its innermost enclosing function."""
    import ast

    def is_row_number(e) -> bool:
        while (
            isinstance(e, ast.Call)
            and isinstance(e.func, ast.Attribute)
            and e.func.attr in ("over", "cast")
        ):
            e = e.func.value
        f = getattr(e, "func", None)
        return isinstance(e, ast.Call) and "row_number" in (
            getattr(f, "attr", None),
            getattr(f, "id", None),
        )

    bound: dict[int, set[str]] = {}

    def is_other_window(e) -> bool:
        return (
            isinstance(e, ast.Call)
            and isinstance(e.func, ast.Attribute)
            and e.func.attr == "over"
            and not is_row_number(e)
        )

    def row_number_names(scope) -> set[str]:
        if id(scope) not in bound:
            names = bound[id(scope)] = set()
            for n in ast.walk(scope):
                if not (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)):
                    continue
                if n.func.attr == "withColumn" and is_row_number(n.args[1]):
                    names.add(getattr(n.args[0], "value", None))
                elif n.func.attr == "select" and not any(
                    is_other_window(e) for a in n.args for e in ast.walk(a)
                ):
                    names.update(
                        getattr(a.args[0], "value", None)
                        for a in n.args
                        if isinstance(a, ast.Call)
                        and getattr(a.func, "attr", None) == "alias"
                        and is_row_number(a.func.value)
                    )
        return bound[id(scope)]

    def fixed_k(c) -> bool:
        return (isinstance(c, ast.Constant) and type(c.value) is int) or (
            isinstance(c, ast.Name) and c.id.isupper()
        )

    def hit(node, scope):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("filter", "where")
        ):
            return None
        names = row_number_names(scope)
        for cmp in (n for a in node.args for n in ast.walk(a)):
            if not isinstance(cmp, ast.Compare):
                continue
            left = cmp.left
            if not (
                isinstance(left, ast.Call)
                and left.args
                and isinstance(left.args[0], ast.Constant)
                and left.args[0].value in names
            ):
                continue
            if any(
                isinstance(op, (ast.LtE, ast.Lt, ast.Eq)) and fixed_k(c)
                for op, c in zip(cmp.ops, cmp.comparators)
            ):
                return ""
        return None

    return _engine_walk(src, rel, hit)


def test_top_k_cut_has_one_owner():
    """Every "first k rows per group" cut goes through
    ``functions/ranks.top_k``: no other engine module may number rows
    with ``row_number`` and filter that number against a fixed k.
    Self-tested against a synthetic repro (and spellings that must pass:
    a ``max(when(rn == 1, ...))`` pivot, a per-row bound
    ``rn <= F.col("n_min")``, a ``rn <= CAP`` flag used only inside
    ``agg``, a filter on a column no ``row_number`` binds, and a number
    that shares its window with a running sum)."""
    repro = (
        "def f(df, w):\n"
        "    a = df.withColumn('rn', F.row_number().over(w)).filter(F.col('rn') == 1)\n"
        "    b = df.select(F.row_number().over(w).cast('int').alias('rank'))\n"
        "    c = b.filter(F.col('rank') <= TOP_K)\n"
        "    d = b.where((F.col('rank') < 3) & (F.col('op') != 'D'))\n"
        "    e = b.groupBy('g').agg(F.max(F.when(F.col('rn') == 1, F.col('v'))))\n"
        "    g = b.filter(F.col('rn') <= F.col('n_min'))\n"
        "    h = b.groupBy('g').agg(F.sum((F.col('rn') <= CAP).cast('int')))\n"
        "    i = b.filter(F.col('score') <= 3)\n"
        "    j = df.select(\n"
        "        F.row_number().over(w).alias('pos'), F.sum('rel').over(w).alias('h')\n"
        "    ).filter(F.col('pos') <= EVAL_K)\n"
        "def g(df, w):\n"
        "    return df.filter(F.col('rank') == 1)\n"
    )
    assert _top_k_cuts(repro, "x.py") == ["x.py:2: f", "x.py:4: f", "x.py:5: f"]
    problems, _ = _unowned(_top_k_cuts, {"functions/ranks.py"})
    assert not problems, "\n".join(problems)


def test_default_driver_heap_is_half_the_host_capped():
    """The default driver heap is half of physical RAM, capped at 16g: a
    15 GiB host gets 7g (a 16g heap there let the OOM killer take the
    JVM), a 128 GiB host keeps 16g."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark.session import (
        default_driver_memory,
    )

    assert default_driver_memory(15 * 2**30) == "7g"
    assert default_driver_memory(128 * 2**30) == "16g"
    assert default_driver_memory(2**30) == "1g"
