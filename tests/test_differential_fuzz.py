"""Differential fuzzing of the relational surface: random query specs are
rendered TWICE from one AST — once as a Spark DataFrame plan, once as
DuckDB SQL — and the results compared exactly (rows, schema, values).

This is the sqlancer-style complement to the per-entry oracle catalog: the
catalog pins 298 hand-written query/oracle PAIRS, while this fuzzer checks
that the engine's compositional surface (filter/project/group/order/join
over arbitrary predicate trees) agrees with an independent engine on specs
NOBODY hand-wrote.  Deterministic seed → reproducible failures; literals
are sampled from the actual data so predicates stay selective.

Comparison rules follow the driver gate (tools/check_correctness.compare):
columns sorted by name, order-insensitive rows, exact values.  Aggregates
are restricted to the cross-engine-exact set (COUNT, MIN, MAX, SUM of
integer-valued columns, 2dp-rounded SUM of 2-decimal money columns — sums
of arbitrary doubles are accumulation-order-dependent and belong to the
catalog's integer-cent-guarded entries, not a fuzzer).
"""

from __future__ import annotations

import random
import sys
from pathlib import Path

import duckdb
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tools.check_correctness import compare  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

# per-table column metadata: numeric (float money 2dp), integer-valued,
# categorical (low cardinality), unique sort key(s)
TABLES = {
    "orders": {
        "money": ["o_totalprice"],
        "int": ["o_orderkey", "o_custkey"],
        "cat": ["o_orderstatus", "o_orderpriority"],
        "date": ["o_orderdate"],
        "key": ["o_orderkey"],
    },
    "customer": {
        "money": ["c_acctbal"],
        "int": ["c_custkey", "c_nationkey"],
        "cat": ["c_mktsegment"],
        "date": [],
        "key": ["c_custkey"],
    },
    "lineitem": {
        "money": ["l_extendedprice"],
        "int": ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity"],
        "cat": ["l_returnflag", "l_linestatus"],
        "date": ["l_shipdate"],
        "key": ["l_orderkey", "l_linenumber"],
    },
    "part": {
        "money": ["p_retailprice"],
        "int": ["p_partkey", "p_size"],
        "cat": ["p_brand", "p_type"],
        "date": [],
        "key": ["p_partkey"],
    },
    "documents": {
        "money": [],
        "int": ["doc_id", "n_chars"],
        "cat": ["lang", "source"],
        "date": [],
        "key": ["doc_id"],
    },
}

# 200 specs / 20 shapes keeps the per-shape expectation at ~10 after the
# r12 additions (outer-join NULL semantics, scalar/IN subqueries,
# correlated-EXISTS-with-range, grouped COUNT DISTINCT)
N_SPECS = 200
SEED = 20260815

# --- NULL-view family (r12 judge ask #5) -------------------------------------
# TPC-H tables have no NULLs, which made the advisor's group_regression
# null-pair find invisible to this fuzzer.  The null views deterministically
# NULL ~10% of one numeric + one categorical column per table (never a
# join/order key): the row is nulled when substr(md5(col || '|' || key...),
# 1, 2) < '1a' — a pure function of (column, key) both engines compute
# identically, so no parquet is materialized.
NULL_COLS = {
    "orders": ["o_totalprice", "o_orderpriority"],
    "customer": ["c_acctbal", "c_mktsegment"],
    "lineitem": ["l_quantity", "l_returnflag"],
    "part": ["p_retailprice", "p_brand"],
    "documents": ["n_chars", "source"],
}
NULL_THRESHOLD = "1a"  # 26/256 ≈ 10.2%


def _read_plain(spark, table):
    return spark.read.parquet(f"{SF_DIR}/{table}.parquet")


def _read_nulled(spark, table):
    df = _read_plain(spark, table)
    keys = TABLES[table]["key"]
    for c in NULL_COLS[table]:
        flag = (
            F.substring(
                F.md5(F.concat_ws("|", F.lit(c), *[F.col(k).cast("string") for k in keys])),
                1,
                2,
            )
            < NULL_THRESHOLD
        )
        df = df.withColumn(c, F.when(flag, F.lit(None)).otherwise(F.col(c)))
    return df


def _register_nulled_views(con):
    """DuckDB twin of _read_nulled, registered under the PLAIN table names
    so every shape's SQL string works unchanged."""
    for table, meta in TABLES.items():
        path = f"{SF_DIR}/{table}.parquet"
        cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM '{path}'").fetchall()]
        key_expr = " || '|' || ".join(f"CAST({k} AS VARCHAR)" for k in meta["key"])
        select = []
        for c in cols:
            if c in NULL_COLS[table]:
                select.append(
                    f"CASE WHEN substr(md5('{c}' || '|' || {key_expr}), 1, 2)"
                    f" < '{NULL_THRESHOLD}' THEN NULL ELSE {c} END AS {c}"
                )
            else:
                select.append(c)
        con.execute(f"CREATE VIEW {table} AS SELECT {', '.join(select)} FROM '{path}'")


# --- predicate AST: each node renders to (spark Column, sql string) ----------

class Cmp:
    def __init__(self, col, op, lit, kind):
        self.col, self.op, self.lit, self.kind = col, op, lit, kind

    def spark(self):
        c = F.col(self.col)
        if self.kind == "date":
            lit = F.lit(self.lit).cast("date")
        else:
            lit = F.lit(self.lit)
        return {"<": c < lit, "<=": c <= lit, ">": c > lit, ">=": c >= lit,
                "=": c == lit, "!=": c != lit}[self.op]

    def sql(self):
        if self.kind == "date":
            lit = f"DATE '{self.lit}'"
        elif isinstance(self.lit, str):
            lit = "'" + self.lit.replace("'", "''") + "'"
        else:
            lit = repr(self.lit)
        op = "<>" if self.op == "!=" else self.op
        return f"({self.col} {op} {lit})"


class IsIn:
    def __init__(self, col, values, negate):
        self.col, self.values, self.negate = col, values, negate

    def spark(self):
        e = F.col(self.col).isin(*self.values)
        return ~e if self.negate else e

    def sql(self):
        vals = ", ".join("'" + v.replace("'", "''") + "'" for v in self.values)
        return f"({self.col} {'NOT IN' if self.negate else 'IN'} ({vals}))"


class Bool:
    def __init__(self, op, kids):
        self.op, self.kids = op, kids

    def spark(self):
        a, b = self.kids[0].spark(), self.kids[1].spark()
        return (a & b) if self.op == "AND" else (a | b)

    def sql(self):
        return f"({self.kids[0].sql()} {self.op} {self.kids[1].sql()})"


class Not:
    def __init__(self, kid):
        self.kid = kid

    def spark(self):
        return ~self.kid.spark()

    def sql(self):
        return f"(NOT {self.kid.sql()})"


def _sample_literals(con, table):
    """Pull deterministic literal pools from the data itself so random
    predicates stay selective instead of trivially empty/full."""
    meta, pools = TABLES[table], {}
    for col in meta["money"] + meta["int"] + meta["date"]:
        rows = con.execute(
            f"SELECT DISTINCT {col} FROM {table} WHERE {col} IS NOT NULL"
            " ORDER BY 1 LIMIT 201"
        ).fetchall()
        pools[col] = [r[0] for r in rows]
    for col in meta["cat"]:
        pools[col] = [
            r[0] for r in con.execute(
                f"SELECT DISTINCT {col} FROM {table} WHERE {col} IS NOT NULL ORDER BY 1"
            ).fetchall()
        ]
    return pools


def _gen_pred(rng, table, pools, depth=0):
    meta = TABLES[table]
    roll = rng.random()
    if depth < 2 and roll < 0.4:
        op = rng.choice(["AND", "OR"])
        return Bool(op, [_gen_pred(rng, table, pools, depth + 1),
                         _gen_pred(rng, table, pools, depth + 1)])
    if depth < 2 and roll < 0.5:
        return Not(_gen_pred(rng, table, pools, depth + 1))
    # leaf
    kind = rng.choice(
        (["money"] * len(meta["money"]) + ["int"] * len(meta["int"])
         + ["cat"] * len(meta["cat"]) + ["date"] * len(meta["date"]))
    )
    col = rng.choice(meta[kind])
    pool = pools[col]
    if kind == "cat":
        k = rng.randint(1, min(3, len(pool)))
        return IsIn(col, sorted(rng.sample(pool, k)), rng.random() < 0.3)
    lit = rng.choice(pool)
    if kind == "date":
        lit = str(lit)[:10]
        return Cmp(col, rng.choice(["<", "<=", ">", ">="]), lit, "date")
    if kind == "money":
        # no equality on float columns: repr round-trips can differ
        return Cmp(col, rng.choice(["<", "<=", ">", ">="]), float(lit), "num")
    return Cmp(col, rng.choice(["<", "<=", ">", ">=", "=", "!="]), int(lit), "num")


def _run_spec(spark, con, rng, i, read=_read_plain):
    table = rng.choice(list(TABLES))
    meta = TABLES[table]
    pools = _sample_literals(con, table)
    pred = _gen_pred(rng, table, pools)
    shape = rng.choice([
        "filter_project", "group_agg", "order_limit", "join_count",
        "window_rank", "distinct", "union_distinct",
        "left_join_agg", "semi_anti_join", "case_agg", "lag_delta",
        "frame_window", "asof_tolerance", "grouping_sets",
        "full_outer_agg", "scalar_subquery", "in_subquery", "not_in_nullaware",
        "exists_correlated_pred", "count_distinct_agg",
    ])

    df = read(spark, table)

    if shape == "filter_project":
        cols = sorted(rng.sample(
            meta["money"] + meta["int"] + meta["cat"],
            rng.randint(1, 3),
        ))
        sdf = df.filter(pred.spark()).select(*cols)
        sql = f"SELECT {', '.join(cols)} FROM {table} WHERE {pred.sql()}"
    elif shape == "group_agg":
        g = rng.choice(meta["cat"])
        aggs_s = [F.count(F.lit(1)).cast("long").alias("n")]
        aggs_q = ["CAST(COUNT(*) AS BIGINT) AS n"]
        if meta["int"] and rng.random() < 0.8:
            c = rng.choice(meta["int"])
            aggs_s.append(F.sum(c).cast("long").alias("s"))
            aggs_q.append(f"CAST(SUM({c}) AS BIGINT) AS s")
        if meta["money"] and rng.random() < 0.6:
            c = rng.choice(meta["money"])
            # min/max are exact; 2dp-rounded SUM of a 2-decimal column is
            # accumulation-order-safe (never lands on a half-cent boundary)
            aggs_s.append(F.min(c).alias("mn"))
            aggs_q.append(f"MIN({c}) AS mn")
            aggs_s.append(F.round(F.sum(c), 2).alias("sm"))
            aggs_q.append(f"ROUND(SUM({c}), 2) AS sm")
        having = rng.randint(0, 3)
        sdf = (
            df.filter(pred.spark()).groupBy(g).agg(*aggs_s)
            .filter(F.col("n") > having)
        )
        sql = (
            f"SELECT {g}, {', '.join(aggs_q)} FROM {table}"
            f" WHERE {pred.sql()} GROUP BY {g} HAVING COUNT(*) > {having}"
        )
    elif shape == "order_limit":
        # order by EVERY projected column: lineitem's "key" is only a
        # prefix order (duplicate (l_orderkey, l_linenumber) pairs exist in
        # the generator), and a LIMIT cutting inside a tie group is only
        # deterministic when tied rows are identical in the projection
        keys = meta["key"]
        desc = rng.random() < 0.5
        k = rng.randint(1, 50)
        cols = sorted(set(keys + rng.sample(meta["cat"] + meta["int"], 1)))
        order_s = [F.col(c).desc() if desc else F.col(c).asc() for c in cols]
        sdf = df.filter(pred.spark()).orderBy(*order_s).limit(k).select(*cols)
        order_q = ", ".join(
            f"{c} {'DESC NULLS LAST' if desc else 'ASC NULLS FIRST'}" for c in cols
        )
        sql = (
            f"SELECT {', '.join(cols)} FROM {table} WHERE {pred.sql()}"
            f" ORDER BY {order_q} LIMIT {k}"
        )
    elif shape == "window_rank":
        # ROW_NUMBER over a deterministic total order (unique keys) — rank
        # windows only fuzz soundly when the order key admits no ties
        from pyspark.sql import Window

        part = rng.choice(meta["cat"])
        keys = meta["key"]
        k = rng.randint(1, 5)
        desc = rng.random() < 0.5
        order_s = [F.col(c).desc() if desc else F.col(c).asc() for c in keys]
        w = Window.partitionBy(part).orderBy(*order_s)
        sdf = (
            df.filter(pred.spark())
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select(part, *keys, F.col("rn").cast("long").alias("rn"))
        )
        order_q = ", ".join(
            f"{c} {'DESC NULLS LAST' if desc else 'ASC NULLS FIRST'}" for c in keys
        )
        sql = (
            f"SELECT {part}, {', '.join(keys)}, CAST(rn AS BIGINT) AS rn FROM ("
            f"  SELECT {part}, {', '.join(keys)},"
            f"         ROW_NUMBER() OVER (PARTITION BY {part} ORDER BY {order_q}) AS rn"
            f"  FROM {table} WHERE {pred.sql()}"
            f") WHERE rn <= {k}"
        )
    elif shape == "distinct":
        cols = sorted(rng.sample(meta["cat"] + meta["int"][:1], rng.randint(1, 2)))
        sdf = df.filter(pred.spark()).select(*cols).distinct()
        sql = f"SELECT DISTINCT {', '.join(cols)} FROM {table} WHERE {pred.sql()}"
    elif shape == "union_distinct":
        pred2 = _gen_pred(rng, table, pools)
        cols = sorted(rng.sample(meta["cat"] + meta["int"], rng.randint(1, 2)))
        sdf = (
            df.filter(pred.spark()).select(*cols)
            .unionByName(df.filter(pred2.spark()).select(*cols))
            .distinct()
        )
        sql = (
            f"SELECT {', '.join(cols)} FROM {table} WHERE {pred.sql()}"
            f" UNION "
            f"SELECT {', '.join(cols)} FROM {table} WHERE {pred2.sql()}"
        )
    elif shape == "left_join_agg":
        # left OUTER join null-extension semantics: customers filtered
        # BEFORE the join, unmatched orders keep a NULL segment (coalesced
        # to a sentinel so the group key sorts deterministically)
        pools_c = _sample_literals(con, "customer")
        pred_c = _gen_pred(rng, "customer", pools_c)
        o = read(spark, "orders")
        c = read(spark, "customer").filter(pred_c.spark())
        sdf = (
            o.join(c, o["o_custkey"] == c["c_custkey"], "left")
            .groupBy(F.coalesce(F.col("c_mktsegment"), F.lit("<none>")).alias("seg"))
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
        sql = (
            "SELECT COALESCE(c_mktsegment, '<none>') AS seg,"
            " CAST(COUNT(*) AS BIGINT) AS n FROM orders"
            " LEFT JOIN (SELECT * FROM customer WHERE "
            f"{pred_c.sql()}) c ON o_custkey = c_custkey GROUP BY 1"
        )
    elif shape == "semi_anti_join":
        # EXISTS / NOT EXISTS rendered as Spark left_semi / left_anti
        pools_c = _sample_literals(con, "customer")
        pred_c = _gen_pred(rng, "customer", pools_c)
        anti = rng.random() < 0.5
        o = read(spark, "orders")
        c = read(spark, "customer").filter(pred_c.spark())
        sdf = (
            o.join(c, o["o_custkey"] == c["c_custkey"],
                   "left_anti" if anti else "left_semi")
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
        verb = "NOT EXISTS" if anti else "EXISTS"
        sql = (
            "SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n FROM orders"
            f" WHERE {verb} (SELECT 1 FROM customer"
            f" WHERE c_custkey = o_custkey AND {pred_c.sql()})"
            " GROUP BY o_orderstatus"
        )
    elif shape == "case_agg":
        # the random predicate moves INSIDE the aggregate as a conditional
        g = rng.choice(meta["cat"])
        sdf = df.groupBy(g).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(pred.spark(), 1).otherwise(0)).cast("long").alias("hits"),
        )
        sql = (
            f"SELECT {g}, CAST(COUNT(*) AS BIGINT) AS n,"
            f" CAST(SUM(CASE WHEN {pred.sql()} THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS hits FROM {table} GROUP BY {g}"
        )
    elif shape == "lag_delta":
        # LAG over (keys..., v): integer deltas are exact.  The lagged
        # column itself is the FINAL order key, so rows tied on the whole
        # order are identical in every projected attribute and the delta
        # multiset is tie-insensitive (lineitem's keys are not unique)
        from pyspark.sql import Window

        keys = meta["key"]
        c = rng.choice([x for x in meta["int"] if x not in keys])
        w = Window.orderBy(*[F.col(k).asc() for k in keys], F.col("v").asc())
        sdf = (
            df.filter(pred.spark())
            .select(*keys, F.col(c).alias("v"))
            .withColumn("d", (F.col("v") - F.lag("v").over(w)).cast("long"))
            .select(*keys, "d")
        )
        order_q = ", ".join(f"{k} ASC NULLS FIRST" for k in keys + [c])
        sql = (
            f"SELECT {', '.join(keys)},"
            f" CAST({c} - LAG({c}) OVER (ORDER BY {order_q}) AS BIGINT) AS d"
            f" FROM {table} WHERE {pred.sql()}"
        )
    elif shape == "frame_window":
        # ROWS-frame running SUM over a deterministic total order: the
        # summed column v is itself the final order key, so rows tied on
        # the whole (part, keys, v) order are identical in every projected
        # attribute and any within-tie permutation leaves the v-sequence —
        # hence every frame sum — unchanged.  Integer sums are exact.
        from pyspark.sql import Window

        part = rng.choice(meta["cat"])
        keys = meta["key"]
        c = rng.choice([x for x in meta["int"] if x not in keys])
        p = rng.randint(1, 5)
        w = (
            Window.partitionBy(part)
            .orderBy(*[F.col(k).asc() for k in keys], F.col("v").asc())
            .rowsBetween(-p, 0)
        )
        sdf = (
            df.filter(pred.spark())
            .select(part, *keys, F.col(c).alias("v"))
            .withColumn("rs", F.sum("v").over(w).cast("long"))
        )
        order_q = ", ".join(f"{k} ASC NULLS FIRST" for k in keys) + ", v ASC NULLS FIRST"
        sql = (
            f"SELECT {part}, {', '.join(keys)}, v,"
            f" CAST(SUM(v) OVER (PARTITION BY {part} ORDER BY {order_q}"
            f" ROWS BETWEEN {p} PRECEDING AND CURRENT ROW) AS BIGINT) AS rs"
            f" FROM (SELECT {part}, {', '.join(keys)}, {c} AS v FROM {table}"
            f" WHERE {pred.sql()})"
        )
    elif shape == "asof_tolerance":
        # tolerance as-of join (engine: union+window asof_join_tolerance;
        # oracle: native ASOF LEFT JOIN + staleness CASE).  The right side
        # aggregates to one row per (custkey, ts) so the at-or-before pick
        # is tie-free; staleness is exact integer micros.
        from aicoe_osc_demo_spark.operators.temporal import asof_join_tolerance

        pools_o = _sample_literals(con, "orders")
        pred_l = _gen_pred(rng, "orders", pools_o)
        pred_r = _gen_pred(rng, "orders", pools_o)
        days = rng.randint(1, 30)
        tol_us = days * 86400 * 1_000_000
        o = read(spark, "orders")
        left = o.filter(pred_l.spark()).select(
            "o_orderkey", "o_custkey", "o_orderdate"
        )
        right = (
            o.filter(pred_r.spark())
            .groupBy("o_custkey", F.col("o_orderdate").alias("rts"))
            .agg(F.max("o_totalprice").alias("v"))
        )
        sdf = asof_join_tolerance(
            left,
            right,
            on=["o_custkey"],
            left_ts="o_orderdate",
            right_ts="rts",
            value_cols=["v"],
            tolerance_seconds=days * 86400,
        ).select("o_orderkey", "v_asof", "staleness_s")
        sql = (
            f"WITH l AS (SELECT o_orderkey, o_custkey, o_orderdate FROM orders"
            f" WHERE {pred_l.sql()}),"
            f" r AS (SELECT o_custkey AS ck, o_orderdate AS rts,"
            f" MAX(o_totalprice) AS v FROM orders WHERE {pred_r.sql()}"
            f" GROUP BY 1, 2)"
            f" SELECT l.o_orderkey,"
            f" CASE WHEN m.rts IS NOT NULL AND"
            f" epoch_us(l.o_orderdate) - epoch_us(m.rts) <= {tol_us}"
            f" THEN m.v END AS v_asof,"
            f" CASE WHEN m.rts IS NOT NULL AND"
            f" epoch_us(l.o_orderdate) - epoch_us(m.rts) <= {tol_us}"
            f" THEN ROUND((epoch_us(l.o_orderdate) - epoch_us(m.rts)) / 1e6, 6)"
            f" END AS staleness_s"
            f" FROM l ASOF LEFT JOIN r m"
            f" ON l.o_custkey = m.ck AND l.o_orderdate >= m.rts"
        )
    elif shape == "grouping_sets":
        # ROLLUP grouping sets: Catalyst's Expand vs DuckDB's GROUPING
        # machinery; rolled-up keys coalesce to a sentinel (string-cast so
        # the sentinel type matches) and GROUPING()/grouping_id() bitmasks
        # must agree (first column = most significant bit in both engines)
        cats = meta["cat"] + [c for c in meta["int"] if c not in meta["key"]][:1]
        g1, g2 = rng.sample(cats, 2)
        sdf = (
            df.filter(pred.spark())
            .rollup(g1, g2)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.grouping_id().cast("long").alias("gid"),
            )
            .select(
                F.coalesce(F.col(g1).cast("string"), F.lit("<all>")).alias("a"),
                F.coalesce(F.col(g2).cast("string"), F.lit("<all>")).alias("b"),
                "gid",
                "n",
            )
        )
        sql = (
            f"SELECT COALESCE(CAST({g1} AS VARCHAR), '<all>') AS a,"
            f" COALESCE(CAST({g2} AS VARCHAR), '<all>') AS b,"
            f" CAST(GROUPING({g1}, {g2}) AS BIGINT) AS gid,"
            f" CAST(COUNT(*) AS BIGINT) AS n"
            f" FROM {table} WHERE {pred.sql()} GROUP BY ROLLUP ({g1}, {g2})"
        )
    elif shape == "full_outer_agg":
        # FULL OUTER join null-extension on BOTH sides (r12: the remaining
        # outer-join surface): each side filtered before the join, per-side
        # COUNT(col) counts only its own matched+preserved rows while
        # COUNT(*) counts the padded union
        pools_o = _sample_literals(con, "orders")
        pred_o = _gen_pred(rng, "orders", pools_o)
        pools_c = _sample_literals(con, "customer")
        pred_c = _gen_pred(rng, "customer", pools_c)
        o = read(spark, "orders").filter(pred_o.spark())
        c = read(spark, "customer").filter(pred_c.spark())
        sdf = (
            o.join(c, o["o_custkey"] == c["c_custkey"], "full")
            .groupBy(F.coalesce(F.col("c_mktsegment"), F.lit("<none>")).alias("seg"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.count("o_orderkey").cast("long").alias("n_orders"),
                F.count("c_custkey").cast("long").alias("n_cust"),
            )
        )
        sql = (
            "SELECT COALESCE(c_mktsegment, '<none>') AS seg,"
            " CAST(COUNT(*) AS BIGINT) AS n,"
            " CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders,"
            " CAST(COUNT(c_custkey) AS BIGINT) AS n_cust"
            f" FROM (SELECT * FROM orders WHERE {pred_o.sql()}) o"
            " FULL JOIN (SELECT * FROM customer WHERE"
            f" {pred_c.sql()}) c ON o_custkey = c_custkey GROUP BY 1"
        )
    elif shape == "scalar_subquery":
        # uncorrelated scalar subquery threshold: empty subquery -> NULL
        # scalar -> NULL comparison -> zero rows (both engines).  Spark
        # side renders the scalar as a broadcast single-row cross join —
        # the declarative equivalent Catalyst itself rewrites scalar
        # subqueries into.  MAX is exact on doubles (no accumulation
        # order), so the threshold is bit-identical across engines.
        pred2 = _gen_pred(rng, table, pools)
        vcol = rng.choice(meta["money"] + meta["int"])
        g = rng.choice(meta["cat"])
        thr = df.filter(pred2.spark()).agg(F.max(vcol).alias("_thr"))
        sdf = (
            df.filter(pred.spark())
            .crossJoin(F.broadcast(thr))
            .filter(F.col(vcol) < F.col("_thr"))
            .groupBy(g)
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
        sql = (
            f"SELECT {g}, CAST(COUNT(*) AS BIGINT) AS n FROM {table}"
            f" WHERE {pred.sql()} AND {vcol} <"
            f" (SELECT MAX({vcol}) FROM {table} WHERE {pred2.sql()})"
            f" GROUP BY {g}"
        )
    elif shape == "in_subquery":
        # IN (subquery): for non-null probe keys this is left_semi on the
        # distinct match set — the TPC-H Q18/Q22-positive shape
        pools_c = _sample_literals(con, "customer")
        pred_c = _gen_pred(rng, "customer", pools_c)
        o = read(spark, "orders")
        sub = (
            read(spark, "customer")
            .filter(pred_c.spark())
            .select("c_custkey")
            .distinct()
        )
        sdf = (
            o.join(sub, o["o_custkey"] == sub["c_custkey"], "left_semi")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
        sql = (
            "SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n FROM orders"
            " WHERE o_custkey IN (SELECT c_custkey FROM customer"
            f" WHERE {pred_c.sql()}) GROUP BY o_orderpriority"
        )
    elif shape == "not_in_nullaware":
        # NOT IN with a NULL-generating subquery — the classic three-valued
        # trap (and the reason Spark has a dedicated null-aware anti join):
        # one NULL in the list makes NOT IN evaluate to NULL for EVERY row
        # (zero output), while an empty list keeps every row.  A plain
        # left_anti is NOT EXISTS, not NOT IN, so the Spark side composes
        # the null-aware semantics declaratively: anti join on the non-null
        # match set x a broadcast single-row has-any-null flag.
        pools_c = _sample_literals(con, "customer")
        pred_c = _gen_pred(rng, "customer", pools_c)
        pred_n = _gen_pred(rng, "customer", pools_c)
        o = read(spark, "orders")
        sub = (
            read(spark, "customer")
            .filter(pred_c.spark())
            .select(F.when(pred_n.spark(), F.col("c_custkey")).alias("k"))
        )
        has_null = sub.agg(
            F.coalesce(F.max(F.col("k").isNull()), F.lit(False)).alias("_hn")
        )
        sdf = (
            o.join(sub.filter(F.col("k").isNotNull()).distinct(),
                   o["o_custkey"] == F.col("k"), "left_anti")
            .crossJoin(F.broadcast(has_null))
            .filter(~F.col("_hn"))
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
        sql = (
            "SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n FROM orders"
            " WHERE o_custkey NOT IN"
            f" (SELECT CASE WHEN {pred_n.sql()} THEN c_custkey END"
            f"  FROM customer WHERE {pred_c.sql()})"
            " GROUP BY o_orderstatus"
        )
    elif shape == "exists_correlated_pred":
        # correlated EXISTS whose subquery carries BOTH the equi-correlation
        # and an extra inequality on the inner table (TPC-H Q21's shape):
        # rendered as a left_semi join on a compound condition, so the
        # mixed equi+range semi-join path is fuzzed, not just pure equi
        pools_l = _sample_literals(con, "lineitem")
        pred_l = _gen_pred(rng, "lineitem", pools_l)
        qty = int(rng.choice(pools_l["l_quantity"]))
        o = read(spark, "orders")
        li = read(spark, "lineitem").filter(pred_l.spark())
        sdf = (
            o.join(
                li,
                (o["o_orderkey"] == li["l_orderkey"]) & (li["l_quantity"] > qty),
                "left_semi",
            )
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
        sql = (
            "SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n FROM orders"
            " WHERE EXISTS (SELECT 1 FROM lineitem"
            f" WHERE l_orderkey = o_orderkey AND l_quantity > {qty}"
            f" AND {pred_l.sql()}) GROUP BY o_orderpriority"
        )
    elif shape == "count_distinct_agg":
        # grouped COUNT(DISTINCT int) — Catalyst's Expand-based distinct
        # aggregation vs DuckDB's; exact for integer columns
        g = rng.choice(meta["cat"])
        c = rng.choice(meta["int"])
        sdf = df.filter(pred.spark()).groupBy(g).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.countDistinct(c).cast("long").alias("nd"),
        )
        sql = (
            f"SELECT {g}, CAST(COUNT(*) AS BIGINT) AS n,"
            f" CAST(COUNT(DISTINCT {c}) AS BIGINT) AS nd"
            f" FROM {table} WHERE {pred.sql()} GROUP BY {g}"
        )
    else:  # join_count: orders ⋈ customer with the pred on the chosen side
        if table not in ("orders", "customer"):
            table = "orders"
            pools = _sample_literals(con, table)
            pred = _gen_pred(rng, table, pools)
        o = read(spark, "orders")
        c = read(spark, "customer")
        filt_o = o.filter(pred.spark()) if table == "orders" else o
        filt_c = c.filter(pred.spark()) if table == "customer" else c
        sdf = (
            filt_o.join(filt_c, filt_o["o_custkey"] == filt_c["c_custkey"])
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
        where = f"WHERE {pred.sql()}"
        sql = (
            "SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n FROM orders"
            " JOIN customer ON o_custkey = c_custkey"
            f" {where} GROUP BY c_mktsegment"
        )

    got = sdf.toPandas()
    want = con.execute(sql).df()
    err = compare(got, want)
    assert err is None, f"spec {i} ({shape} on {table}) diverged: {err}\nSQL: {sql}"
    return shape


def test_differential_fuzz_spark_vs_duckdb(spark):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    rng = random.Random(SEED)
    shapes: dict[str, int] = {}
    for i in range(N_SPECS):
        shape = _run_spec(spark, con, rng, i)
        shapes[shape] = shapes.get(shape, 0) + 1
    # the generator must actually exercise every shape (non-vacuity guard)
    assert set(shapes) == {
        "filter_project", "group_agg", "order_limit", "join_count",
        "window_rank", "distinct", "union_distinct",
        "left_join_agg", "semi_anti_join", "case_agg", "lag_delta",
        "frame_window", "asof_tolerance", "grouping_sets",
        "full_outer_agg", "scalar_subquery", "in_subquery", "not_in_nullaware",
        "exists_correlated_pred", "count_distinct_agg",
    }, shapes


def test_differential_fuzz_null_views(spark):
    """All 20 shapes over the NULL-injected view family — three-valued
    logic in predicates and NOT IN, null-skipping aggregates, NULL group
    keys, null ordering in windows/ORDER BY: the exact surface where
    Spark and DuckDB genuinely diverge by default (and where the r12
    group_regression fix lived, invisible to the null-free TPC-H run)."""
    con = duckdb.connect()
    _register_nulled_views(con)
    # non-vacuity: the injection must actually produce NULLs in every
    # nulled column, in BOTH engines, at identical row sets
    for table, cols in NULL_COLS.items():
        sdf = _read_nulled(spark, table)
        for c in cols:
            n_spark = sdf.filter(F.col(c).isNull()).count()
            n_duck = con.execute(
                f"SELECT COUNT(*) FROM {table} WHERE {c} IS NULL"
            ).fetchone()[0]
            assert n_spark == n_duck > 0, (table, c, n_spark, n_duck)
    rng = random.Random(SEED + 13)
    shapes: dict[str, int] = {}
    for i in range(140):
        shape = _run_spec(spark, con, rng, i, read=_read_nulled)
        shapes[shape] = shapes.get(shape, 0) + 1
    # every shape must fire at least once over the null views
    assert len(shapes) == 20, shapes


def test_differential_fuzz_detects_a_seeded_divergence(spark):
    # prove the comparator is non-vacuous: a deliberately wrong SQL twin
    # must be flagged
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{SF_DIR}/orders.parquet'")
    got = (
        _read_plain(spark, "orders")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .toPandas()
    )
    want = con.execute(
        "SELECT o_orderstatus, CAST(COUNT(*) + 1 AS BIGINT) AS n"
        " FROM orders GROUP BY o_orderstatus"
    ).df()
    assert compare(got, want) is not None
