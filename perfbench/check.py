"""Output checks, computed independently of the program.

* Derby targets: the JVM dumps each target table as typed canonical
  text; the expected table is computed here with DuckDB straight from
  the generated inputs (parquet or CSV). Tables are compared by column
  names, column types and an order-independent digest of the rows.
* Catalog results: each query's parquet output is compared with the
  program's own DuckDB oracle (``SparkEntry.oracleSql``), using the typed
  row normalization of the repository's correctness checker.
"""
import datetime as dt
import decimal
import hashlib
import importlib.util
import json
import os

import duckdb

ORDERS_TARGET = [("order_id", "BIGINT"), ("user_id", "BIGINT"),
                 ("order_created_at", "TIMESTAMP"),
                 ("amount", "DECIMAL(18,4)"), ("product", "VARCHAR")]
SEED_TARGET = [("orderid", "BIGINT"), ("userid", "BIGINT"),
               ("addedtocartat", "TIMESTAMP"),
               ("ordercreatedat", "TIMESTAMP"),
               ("amount", "DECIMAL(18,4)"), ("product", "VARCHAR"),
               ("isdelivered", "BOOLEAN")]

# The parquet stand-in for the MSSQL source: status 'P' rows carry a NULL
# creation timestamp (Pipeline.ordersSource).
ORDERS_SOURCE = """
  SELECT o_orderkey AS order_id, o_custkey AS user_id,
         CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_orderdate END
           AS order_created_at,
         CAST(o_totalprice AS DECIMAL(18,4)) AS amount,
         o_orderpriority AS product
  FROM read_parquet('{path}')"""


def canon(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, dt.datetime):
        s = v.strftime("%Y-%m-%d %H:%M:%S")
        return s + (f".{v.microsecond:06d}" if v.microsecond else "")
    if isinstance(v, decimal.Decimal):
        return format(v, "f")
    if isinstance(v, str):
        return (v.replace("\\", "\\\\").replace("\t", "\\t")
                .replace("\n", "\\n"))
    return str(v)


def digest(lines):
    h = hashlib.sha256()
    for line in sorted(lines):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def compare_table(dump_path, expected_cols, expected_rows):
    """None when the dumped table equals the expectation, else why not."""
    with open(dump_path, encoding="utf-8") as f:
        header = f.readline().rstrip("\n").split("\t")
        got = [line.rstrip("\n") for line in f]
    cols = [tuple(c.rsplit(":", 1)) for c in header]
    cols = [(n.lower(), t.upper()) for n, t in cols]
    if cols != expected_cols:
        return f"columns {cols} != expected {expected_cols}"
    exp = ["\t".join(canon(v) for v in r) for r in expected_rows]
    if len(got) != len(exp):
        return f"{len(got)} rows != expected {len(exp)}"
    if digest(got) != digest(exp):
        diff = sorted(set(got) ^ set(exp))[:2]
        return f"row digest differs, e.g. {diff}"
    return None


def expected_sync(orders_parquet, date_from, date_to):
    """(orders, incomplete_orders) after catch-up over [from, to]."""
    src = ORDERS_SOURCE.format(path=orders_parquet)
    con = duckdb.connect()
    done = con.execute(
        f"SELECT * FROM ({src}) WHERE order_created_at >= DATE '{date_from}'"
        f" AND order_created_at < DATE '{date_to}' + INTERVAL 1 DAY"
    ).fetchall()
    side = con.execute(
        f"SELECT * FROM ({src}) WHERE order_created_at IS NULL").fetchall()
    return done, side


def expected_seed(csv_path):
    """CSV seed into an empty target: typed coercion, NULL keys dropped."""
    booleans = ("CASE WHEN upper(trim(IsDelivered)) IN "
                "('TRUE','1','YES','T','Y') THEN true "
                "WHEN upper(trim(IsDelivered)) IN "
                "('FALSE','0','NO','F','N') THEN false END")

    def ts(c):
        return (f"coalesce(try_strptime({c}, '%m/%d/%Y %H:%M'), "
                f"try_strptime({c}, '%Y-%m-%d %H:%M:%S'), "
                f"TRY_CAST({c} AS TIMESTAMP))")
    return duckdb.connect().execute(f"""
      SELECT TRY_CAST(OrderID AS BIGINT), TRY_CAST(UserID AS BIGINT),
             {ts('AddedToCartAt')}, {ts('OrderCreatedAt')},
             TRY_CAST(Amount AS DECIMAL(18,4)), Product, {booleans}
      FROM read_csv('{csv_path}', header=true, all_varchar=true)
      WHERE TRY_CAST(OrderID AS BIGINT) IS NOT NULL""").fetchall()


def _checker(root):
    """The repository's correctness checker, for its typed row norm."""
    path = os.path.join(root, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Oracle:
    """DuckDB oracle answers for one input directory, computed once."""

    def __init__(self, root, tables_dir, oracle_json):
        self.cc = _checker(root)
        self.con = duckdb.connect()
        for t in self.cc.TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{tables_dir}/{t}.parquet')")
        with open(oracle_json) as f:
            self.sql = json.load(f)
        self.answers = {}

    def _answer(self, q):
        if q not in self.answers:
            sql = self.sql[q]
            rel = self.con.execute(sql)
            cols = [d[0] for d in rel.description]
            rows = rel.fetchall()
            types = {r[0]: self.cc.canon_type(r[1]) for r in
                     self.con.execute(f"DESCRIBE {sql}").fetchall()}
            self.answers[q] = (types, self.cc.norm_rows(cols, rows))
        return self.answers[q]

    def compare(self, q, out_dir):
        """(rows in the Spark output, None or the reason it differs)."""
        got = self.con.execute(
            f"SELECT * FROM read_parquet('{out_dir}/*.parquet')")
        gcols = [d[0] for d in got.description]
        grows = got.fetchall()
        if q not in self.sql:
            return len(grows), "no oracle SQL for this query"
        gtypes = {r[0]: self.cc.canon_type(r[1]) for r in self.con.execute(
            f"DESCRIBE SELECT * FROM read_parquet('{out_dir}/*.parquet')"
        ).fetchall()}
        try:
            etypes, (ec, er) = self._answer(q)
        except Exception as e:  # an oracle that fails is a failed check
            return len(grows), f"oracle error: {e}"[:300]
        gc, gr = self.cc.norm_rows(gcols, grows)
        if gtypes != etypes:
            return len(grows), f"column types {gtypes} != {etypes}"[:300]
        if gc != ec:
            return len(grows), f"columns {gc} != {ec}"[:300]
        if gr != er:
            return len(grows), f"{len(gr)} rows vs oracle {len(er)}, differ"
        return len(grows), None
