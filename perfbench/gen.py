"""Seeded input generator and DuckDB oracles for the benchmark.

Everything here is DuckDB SQL over ``range()`` and ``hash(seed, ...)``;
nothing imports the engine, so the inputs do not change when the code
under test does. The same seed gives byte-identical files.

Two input families:

* ``write_tables``: the ten TPC-H-ish parquet tables the registry
  entries read (``region nation customer supplier part orders lineitem
  events documents embeddings``), with the column names, parquet types,
  row counts and value distributions measured on the engine's test
  data. That data is not part of the repository, so the benchmark
  cannot read it; the README lists what was measured and how the
  generated tables compare.
* ``write_landing``: entity landing CSVs for the pipeline workloads:
  an initial load (customers, items, orders before ``CUTOFF``) and one
  directory per wake-up holding a week of held-back orders, ~1%
  customer and item upserts with a few new keys, late corrections to
  orders of older months, and at-least-once resends (identical rows
  under a new file name).

``landing_oracle`` computes the final warehouse state of a sequence of
those batches in closed form.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from datetime import date

import duckdb
import pyarrow.parquet as pq

START = date(1995, 1, 1)
# orders on or after CUTOFF are held back from the initial load and
# land one week per wake-up
CUTOFF = date(2001, 6, 1)
UPSERT_PCT = 1  # share of existing dim keys upserted per wake-up
CORRECTIONS = 5  # late order corrections per wake-up

ORDER_COLS = (
    "order_date", "order_time", "item_id", "item_desc", "customer_id",
    "salutation", "first_name", "last_name", "store_id", "store_name",
    "order_quantity", "sale_price", "disount_amt", "coupon_amt", "net_paid",
    "net_paid_tax", "net_profit",
)
CUSTOMER_COLS = (
    "customer_id", "salutation", "first_name", "last_name", "birth_day",
    "birth_month", "birth_year", "birth_country", "email_address", "is_active",
)
ITEM_COLS = (
    "item_id", "item_desc", "start_date", "end_date", "price", "item_class",
    "item_category", "is_active",
)

_ADJ = ["red", "blue", "hot", "cold", "large", "small", "new", "old"]
_NOUN = ["bolt", "ring", "rod", "plate", "gear", "anvil", "widget", "gizmo"]
_WORDS = (
    "a the data spark stream batch table row column key value order part "
    "customer line join group agg sort hash scan filter window query merge "
    "vector fast slow big small dup"
).split()


def _connect(tmp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # a single thread keeps row order, float sums and file bytes fixed
    con.execute("SET threads=1")
    con.execute(f"SET temp_directory='{tmp_dir}'")
    return con


def _pick(values: list[str], h: str) -> str:
    """SQL picking one of ``values`` by the hash expression ``h``."""
    lst = ", ".join(f"'{v}'" for v in values)
    return f"[{lst}][1 + ({h}) % {len(values)}]"


def _money(cents: str) -> str:
    """Integer cents -> 'D.CC' text, exact."""
    return f"(({cents}) // 100)::VARCHAR || '.' || lpad((({cents}) % 100)::VARCHAR, 2, '0')"


def _write_parquet(con, sql: str, path: str) -> None:
    table = con.execute(sql).arrow()
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


# ---------------------------------------------------------------------------
# TPC-H-ish tables for the registry entries
# ---------------------------------------------------------------------------


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write the ten source tables at scale factor ``sf``. Every
    distribution follows a property measured on the engine's test data
    (listed in the benchmark's README): uniform keys and values, each
    lineitem row picking its order at random (so lines per order are
    Poisson with mean 4 and a few orders have none), exponential event
    gaps and values, and embeddings that are independent random unit
    vectors, with no planted near-duplicates."""
    os.makedirs(out_dir, exist_ok=True)
    # the test data's row counts (sf0.01: 1.5k customers, 15k orders, 60k
    # lineitems, 10k events, 500 embeddings; never fewer than 500 embeddings)
    m = lambda k: max(1, round(k * sf))  # noqa: E731
    n = {
        "customer": m(150_000), "supplier": m(10_000), "part": m(200_000),
        "orders": m(1_500_000), "lineitem": 4 * m(1_500_000), "users": m(15_000),
        "events": m(1_000_000), "documents": m(50_000), "embeddings": max(500, m(20_000)),
    }
    h = lambda *p: _h(seed, *p)  # noqa: E731
    u = lambda *p: f"(({h(*p)} % 1000000) + 1) / 1000001.0"  # noqa: E731  uniform in (0, 1)
    gap_us = 2_592_000_000_000 // n["events"]  # 30 days of events
    con = _connect(out_dir)
    try:
        sql = {
            "region": """
                SELECT CAST(i AS INTEGER) AS r_regionkey,
                       ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] AS r_name
                FROM range(5) t(i) ORDER BY i""",
            "nation": """
                SELECT CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || i AS n_name,
                       CAST(i % 5 AS INTEGER) AS n_regionkey
                FROM range(25) t(i) ORDER BY i""",
            "customer": f"""
                SELECT i AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
                       CAST({h("'cn'", "i")} % 25 AS INTEGER) AS c_nationkey,
                       (CAST({h("'cb'", "i")} % 1100000 AS BIGINT) - 100000) / 100.0
                           AS c_acctbal,
                       {_pick(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
                               "FURNITURE"], h("'cs'", "i"))} AS c_mktsegment
                FROM range({n["customer"]}) t(i) ORDER BY i""",
            "supplier": f"""
                SELECT i AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
                       CAST({h("'sn'", "i")} % 25 AS INTEGER) AS s_nationkey,
                       (CAST({h("'sb'", "i")} % 1100000 AS BIGINT) - 100000) / 100.0
                           AS s_acctbal
                FROM range({n["supplier"]}) t(i) ORDER BY i""",
            "part": f"""
                SELECT i AS p_partkey, {_part_name("i", seed)} AS p_name,
                       'Brand#' || (1 + {h("'pb'", "i")} % 25) AS p_brand,
                       {_pick(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"],
                              h("'pt'", "i"))} AS p_type,
                       CAST(1 + {h("'ps'", "i")} % 50 AS INTEGER) AS p_size,
                       (9000 + i % 1000) / 10.0 AS p_retailprice
                FROM range({n["part"]}) t(i) ORDER BY i""",
            "orders": f"""
                SELECT i AS o_orderkey,
                       CAST({h("'oc'", "i")} % {n["customer"]} AS BIGINT) AS o_custkey,
                       {_pick(["O", "F", "P"], h("'os'", "i"))} AS o_orderstatus,
                       (100000 + CAST({h("'op'", "i")} % 49900000 AS BIGINT)) / 100.0
                           AS o_totalprice,
                       TIMESTAMP '1995-01-01' + to_days(CAST({h("'od'", "i")} % 2405 AS INTEGER))
                           AS o_orderdate,
                       {_pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                              h("'oq'", "i"))} AS o_orderpriority
                FROM range({n["orders"]}) t(i) ORDER BY i""",
            "lineitem": f"""
                SELECT CAST({h("'lo'", "i")} % {n["orders"]} AS BIGINT) AS l_orderkey,
                       CAST({h("'lp'", "i")} % {n["part"]} AS BIGINT) AS l_partkey,
                       CAST({h("'lsu'", "i")} % {n["supplier"]} AS BIGINT) AS l_suppkey,
                       CAST(1 + {h("'ln'", "i")} % 7 AS INTEGER) AS l_linenumber,
                       CAST(1 + {h("'lq'", "i")} % 50 AS DOUBLE) AS l_quantity,
                       (90000 + CAST({h("'le'", "i")} % 10410000 AS BIGINT)) / 100.0
                           AS l_extendedprice,
                       ({h("'ld'", "i")} % 11) / 100.0 AS l_discount,
                       ({h("'lt'", "i")} % 9) / 100.0 AS l_tax,
                       {_pick(["A", "N", "R"], h("'lr'", "i"))} AS l_returnflag,
                       {_pick(["O", "F"], h("'ls'", "i"))} AS l_linestatus,
                       TIMESTAMP '1995-01-02' + to_days(CAST({h("'lsd'", "i")} % 2499 AS INTEGER))
                           AS l_shipdate
                FROM range({n["lineitem"]}) t(i) ORDER BY i""",
            # a Poisson arrival stream: exponential gaps, summed in id order
            "events": f"""
                SELECT i AS event_id,
                       TIMESTAMP '2024-01-01' + to_microseconds(CAST(sum(
                           CAST(-ln({u("'et'", "i")}) * {gap_us} AS BIGINT))
                           OVER (ORDER BY i) AS BIGINT)) AS ts,
                       CAST({h("'eu'", "i")} % {n["users"]} AS BIGINT) AS user_id,
                       {_pick(["signup", "click", "error", "view", "purchase"], h("'ee'", "i"))}
                           AS event_type,
                       round(-ln({u("'ev'", "i")}) * 50, 2) AS value,
                       '{{"k": ' || ({h("'ek'", "i")} % 100) || '}}' AS props
                FROM range({n["events"]}) t(i) ORDER BY i""",
            "documents": f"""
                WITH w AS (
                    SELECT i AS d, string_agg({_pick(_WORDS, h("'dw'", "i", "j"))}, ' '
                                              ORDER BY j) AS text
                    FROM range({n["documents"]}) t(i), range(100) r(j)
                    WHERE j < 10 + {h("'dn'", "i")} % 91
                    GROUP BY i)
                SELECT d AS doc_id, text,
                       {_pick(["en", "en", "en", "zh", "de", "fr", "es"], h("'dl'", "d"))}
                           AS lang,
                       'src' || ({h("'dsrc'", "d")} % 20) AS source,
                       CAST(length(text) AS BIGINT) AS n_chars
                FROM w ORDER BY d""",
            # independent unit vectors from normalised Box-Muller gaussians
            "embeddings": f"""
                WITH g AS (
                    SELECT i, j, sqrt(-2 * ln({u("'g1'", "i", "j")}))
                                 * cos(2 * pi() * {u("'g2'", "i", "j")}) AS x
                    FROM range({n["embeddings"]}) t(i), range(64) r(j)),
                n AS (SELECT i, sqrt(sum(x * x)) AS nrm FROM g GROUP BY i)
                SELECT g.i AS vec_id, list(CAST(g.x / n.nrm AS FLOAT) ORDER BY g.j) AS embedding,
                       CAST({h("'el'", "g.i")} % 10 AS INTEGER) AS label
                FROM g JOIN n USING (i) GROUP BY g.i ORDER BY g.i""",
        }
        for name, q in sql.items():
            _write_parquet(con, q, os.path.join(out_dir, f"{name}.parquet"))
    finally:
        con.close()


def _part_name(k: str, seed: int) -> str:
    """'<adjective> <noun>': the 64 part names of the test data."""
    return f"{_pick(_ADJ, _h(seed, repr('pa'), k))} || ' ' || {_pick(_NOUN, _h(seed, repr('pn'), k))}"


# ---------------------------------------------------------------------------
# entity landing CSVs for the pipeline workloads
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class LandingSpec:
    """Sizes of one generated landing sequence: ``weeks`` wake-ups
    follow the initial load, and wake-up ``w`` lands the orders of week
    ``w`` after ``CUTOFF``."""

    customers: int
    items: int
    orders: int
    weeks: int

    @classmethod
    def at_scale(cls, sf: float, weeks: int) -> "LandingSpec":
        return cls(
            customers=int(150_000 * sf),
            items=int(200_000 * sf),
            orders=int(1_500_000 * sf),
            weeks=weeks,
        )

    @property
    def new_keys(self) -> int:
        """Brand-new customer and item keys per wake-up."""
        return max(1, self.customers // 1000)

    @property
    def days(self) -> int:
        """Order-date span: START up to CUTOFF, then ``weeks`` weeks."""
        return (CUTOFF - START).days + 7 * self.weeks


def _h(seed: int, *parts) -> str:
    """SQL for a non-negative BIGINT hash of ``seed`` and ``parts``."""
    return f"(hash({int(seed)}, {', '.join(str(p) for p in parts)}) >> 1)::BIGINT"


def _entity_selects(spec: LandingSpec, seed: int) -> dict[str, str]:
    h = lambda *p: _h(seed, *p)  # noqa: E731

    def cust(k: str) -> str:
        return f"""'C' || {k} AS customer_id,
            CASE WHEN {k} % 2 = 0 THEN 'Mr.' ELSE 'Ms.' END AS salutation,
            'Customer' AS first_name, lpad({k}::VARCHAR, 9, '0') AS last_name,
            (1 + {h("'bd'", k)} % 28)::VARCHAR AS birth_day,
            (1 + {h("'bm'", k)} % 12)::VARCHAR AS birth_month,
            (1950 + {h("'by'", k)} % 50)::VARCHAR AS birth_year,
            'NATION_' || ({h("'bc'", k)} % 25) AS birth_country"""

    def item(k: str) -> str:
        return f"""'I' || {k} AS item_id, {_part_name(k, seed)} AS item_desc,
            '2020-01-01' AS start_date, NULL::VARCHAR AS end_date"""

    # orders are numbered in date order, so a day holds a consecutive
    # key block and (order_date, order_time) is unique: the composite
    # business key never collides and the oracle is latest-batch-wins
    n_init_days = (CUTOFF - START).days
    n_init = spec.orders * n_init_days // spec.days
    week = f"CASE WHEN d < {n_init_days} THEN -1 ELSE (d - {n_init_days}) // 7 END"
    # a held-back week may reference keys created up to its own wake-up
    known = lambda n: f"({n} + {spec.new_keys} * (1 + {week}))"  # noqa: E731
    order = f"""
        SELECT k, d, {week} AS week,
               (DATE '{START}' + d)::VARCHAR AS order_date,
               lpad(((k % 86400) // 3600)::VARCHAR, 2, '0') || ':'
                   || lpad(((k % 3600) // 60)::VARCHAR, 2, '0') || ':'
                   || lpad((k % 60)::VARCHAR, 2, '0') AS order_time,
               {h("'oi'", "k")} % {known(spec.items)} AS ik,
               {h("'oc'", "k")} % {known(spec.customers)} AS ck,
               {h("'ss'", "k")} % 10 AS store,
               1 + {h("'oq'", "k")} % 7 AS qty,
               100000 + {h("'sp'", "k")} % 49900000 AS cents
        FROM (SELECT k, CAST(k * {spec.days} // {spec.orders} AS INTEGER) AS d
              FROM range({spec.orders}) t(k))"""

    def order_row(qty: str) -> str:
        share = lambda pct: _money(f"o.cents * {pct} // 100")  # noqa: E731
        return f"""o.order_date, o.order_time, 'I' || o.ik AS item_id,
            {_part_name("o.ik", seed)} AS item_desc, 'C' || o.ck AS customer_id,
            CASE WHEN o.ck % 2 = 0 THEN 'Mr.' ELSE 'Ms.' END AS salutation,
            'Customer' AS first_name, lpad(o.ck::VARCHAR, 9, '0') AS last_name,
            o.store::VARCHAR AS store_id, 'Store ' || o.store AS store_name,
            ({qty})::VARCHAR AS order_quantity, {_money("o.cents")} AS sale_price,
            {share(10)} AS disount_amt, {share(2)} AS coupon_amt, {share(88)} AS net_paid,
            {share(95)} AS net_paid_tax, {share(12)} AS net_profit"""

    def upserted(tag: str, n: int) -> str:
        # ~UPSERT_PCT% of the existing keys, then new_keys brand-new keys
        return f"""
            SELECT w, k FROM range({spec.weeks}) a(w), range({n}) b(k)
            WHERE {h(tag, "w", "k")} % 100 < {UPSERT_PCT}
            UNION ALL
            SELECT w, {n} + {spec.new_keys} * w + j AS k
            FROM range({spec.weeks}) a(w), range({spec.new_keys}) b(j)"""

    item_types = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
    return {
        "customer_base": f"""
            SELECT k, {cust("k")}, 'c' || k || '@example.com' AS email_address,
                   CASE WHEN k % 10 = 0 THEN 'N' ELSE 'Y' END AS is_active
            FROM range({spec.customers}) t(k)""",
        "customer_upserts": f"""
            SELECT w, k, {cust("k")}, 'c' || k || '@w' || w || '.example.com' AS email_address,
                   'Y' AS is_active
            FROM ({upserted("'cu'", spec.customers)})""",
        "item_base": f"""
            SELECT k, {item("k")}, {_money("90000 + k % 1000 * 10")} AS price,
                   'Brand#' || (1 + {h("'ib'", "k")} % 25) AS item_class,
                   {_pick(item_types, h("'it'", "k"))} AS item_category, 'Y' AS is_active
            FROM range({spec.items}) t(k)""",
        "item_upserts": f"""
            SELECT w, k, {item("k")},
                   {_money(f"90000 + {h(repr('iu'), 'w', 'k')} % 1000 * 10")} AS price,
                   'Upd#' || w AS item_class, 'PROMO' AS item_category, 'Y' AS is_active
            FROM ({upserted("'iu'", spec.items)})""",
        "order_rows": f"SELECT o.k, o.week, {order_row('o.qty')} FROM ({order}) o",
        # late corrections: orders of the initial load re-sent with a new
        # quantity; distinct keys within a wake-up, any key across them
        "corrections": f"""
            SELECT DISTINCT c.w, o.k, {order_row('o.qty + 10 + c.w')}
            FROM (SELECT w, {h("'cr'", "w", "j")} % {max(1, n_init)} AS k
                  FROM range({spec.weeks}) a(w), range({CORRECTIONS}) b(j)) c
            JOIN ({order}) o ON o.k = c.k""",
    }


def _copy_csv(con, sql: str, cols: tuple[str, ...], path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    con.execute(
        f"COPY (SELECT {', '.join(cols)} FROM ({sql})) TO '{path}' (HEADER, DELIMITER ',')"
    )


def write_landing(out_dir: str, seed: int, spec: LandingSpec) -> list[str]:
    """Write the landing sequence under ``out_dir``:

        initial/<entity>/*.csv        the initial load
        wake_<w>/<entity>/*.csv       what lands before wake-up ``w``

    Returns the batch directories in landing order (initial first)."""
    con = _connect(out_dir)
    try:
        for name, sql in _entity_selects(spec, seed).items():
            con.execute(f"CREATE TEMP TABLE {name} AS {sql}")
        init = os.path.join(out_dir, "initial")
        n_files = 4
        for entity, table, cols in (
            ("customer", "customer_base", CUSTOMER_COLS),
            ("item", "item_base", ITEM_COLS),
        ):
            for f in range(n_files):
                _copy_csv(
                    con, f"SELECT * FROM {table} WHERE k % {n_files} = {f} ORDER BY k",
                    cols, os.path.join(init, entity, f"{entity}_{f}.csv"),
                )
        for f in range(2 * n_files):
            _copy_csv(
                con,
                f"SELECT * FROM order_rows WHERE week = -1 AND k % {2 * n_files} = {f}"
                " ORDER BY k",
                ORDER_COLS, os.path.join(init, "order", f"order_{f}.csv"),
            )
        # at-least-once delivery: one file of each dim re-sent under a
        # new name inside the initial load
        for entity in ("customer", "item"):
            src = os.path.join(init, entity, f"{entity}_0.csv")
            shutil.copyfile(src, os.path.join(init, entity, f"{entity}_0_resend.csv"))
        batches = [init]
        for w in range(spec.weeks):
            d = os.path.join(out_dir, f"wake_{w}")
            _copy_csv(
                con, f"SELECT * FROM customer_upserts WHERE w = {w} ORDER BY k",
                CUSTOMER_COLS, os.path.join(d, "customer", f"customer_w{w}.csv"),
            )
            _copy_csv(
                con, f"SELECT * FROM item_upserts WHERE w = {w} ORDER BY k",
                ITEM_COLS, os.path.join(d, "item", f"item_w{w}.csv"),
            )
            _copy_csv(
                con, f"SELECT * FROM order_rows WHERE week = {w} ORDER BY k",
                ORDER_COLS, os.path.join(d, "order", f"order_w{w}.csv"),
            )
            _copy_csv(
                con, f"SELECT * FROM corrections WHERE w = {w} ORDER BY k",
                ORDER_COLS, os.path.join(d, "order", f"order_w{w}_late.csv"),
            )
            # seeded resends: the previous week's orders (never corrected
            # afterwards, so re-applying them is idempotent) or this
            # week's customer upserts
            pick = con.execute(f"SELECT {_h(seed, repr('rs'), w)} % 3").fetchone()[0]
            if pick == 0 and w > 0:
                src = os.path.join(out_dir, f"wake_{w - 1}", "order", f"order_w{w - 1}.csv")
                shutil.copyfile(src, os.path.join(d, "order", f"order_w{w - 1}_resend.csv"))
            elif pick == 1:
                src = os.path.join(d, "customer", f"customer_w{w}.csv")
                shutil.copyfile(src, os.path.join(d, "customer", f"customer_w{w}_resend.csv"))
            batches.append(d)
        return batches
    finally:
        con.close()


def landing_oracle(batches: list[str], tmp_dir: str) -> dict[str, int]:
    """The final warehouse state after landing ``batches`` in order and
    running one wake-up per batch, computed in DuckDB from the CSV files
    alone: latest batch wins per business key (rows inside one batch
    with the same key are identical by construction), every order joins
    both dims, and dim rows carrying upserted values are counted by their
    marker, the wake-up number inside the value."""
    con = _connect(tmp_dir)
    try:

        def union(entity: str, cols: tuple[str, ...]) -> str:
            parts = []
            for b, d in enumerate(batches):
                glob = os.path.join(d, entity, "*.csv")
                if not any(f.endswith(".csv") for f in os.listdir(os.path.dirname(glob))):
                    continue
                types = ", ".join(f"'{c}': 'VARCHAR'" for c in cols)
                parts.append(
                    f"SELECT {b} AS batch, * FROM read_csv('{glob}', header = true,"
                    f" columns = {{{types}}}, nullstr = '')"
                )
            return " UNION ALL ".join(parts)

        def latest(entity: str, cols, keys) -> str:
            return f"""
                SELECT * FROM ({union(entity, cols)})
                QUALIFY row_number() OVER (PARTITION BY {', '.join(keys)}
                                           ORDER BY batch DESC) = 1"""

        con.execute(f"CREATE TEMP TABLE c AS {latest('customer', CUSTOMER_COLS, ['customer_id'])}")
        con.execute(f"CREATE TEMP TABLE i AS {latest('item', ITEM_COLS, ['item_id'])}")
        con.execute(
            "CREATE TEMP TABLE o AS "
            + latest("order", ORDER_COLS, ["order_date", "order_time", "item_id", "item_desc"])
        )
        row = con.execute("""
            SELECT (SELECT count(*) FROM c), (SELECT count(*) FROM i), (SELECT count(*) FROM o),
                   (SELECT count(*) FROM (SELECT DISTINCT o.order_date, o.customer_id, o.item_id
                                          FROM o JOIN c USING (customer_id)
                                          JOIN i USING (item_id))),
                   (SELECT count(*) FROM o JOIN c USING (customer_id) JOIN i USING (item_id)),
                   (SELECT CAST(sum(CAST(o.order_quantity AS BIGINT)) AS BIGINT)
                    FROM o JOIN c USING (customer_id) JOIN i USING (item_id)),
                   (SELECT count(*) FROM c WHERE email_address LIKE '%@w%'),
                   (SELECT coalesce(CAST(sum(CAST(regexp_extract(email_address, '@w([0-9]+)', 1)
                                        AS BIGINT)) AS BIGINT), 0)
                    FROM c WHERE email_address LIKE '%@w%'),
                   (SELECT count(*) FROM i WHERE item_class LIKE 'Upd#%'),
                   (SELECT coalesce(CAST(sum(CAST(substr(item_class, 5) AS BIGINT)) AS BIGINT), 0)
                    FROM i WHERE item_class LIKE 'Upd#%')
        """).fetchone()
    finally:
        con.close()
    keys = (
        "n_dim_customer", "n_dim_item", "n_raw_order", "n_fact_rows", "n_orders_in_fact",
        "total_quantity", "n_customer_upserted", "customer_upsert_weeks",
        "n_item_upserted", "item_upsert_weeks",
    )
    return dict(zip(keys, (int(v) for v in row)))
