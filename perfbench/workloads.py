"""The benchmark's workloads: the operations of one pass, and the expected
check value of each operation, computed with DuckDB over the same inputs.

* ``blueprint_etl`` is one cycle of the paper's CLI chain on the session
  catalog: UploadFile (regex multi-file replace of lineitem CSV parts,
  exact-match replace and regex append of orders parts), an ExecuteSql
  script with CTAS, UPDATE, DELETE and MERGE, and StoreQueryResults (a
  small aggregate and the full lineitem egest).
* ``llm_ops`` runs a registry operator that checkpoints, loops in rounds
  and overlaps side-thread jobs.

perfbench/README.md says why these two.
"""
import os

import canon
from gen import duck

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Tables each workload registers as views during set-up (the registry
# operators load their own inputs).
TABLES_OF = {"blueprint_etl": ["customer", "nation"], "llm_ops": []}

LLM_OPS = ["op_sim_topk_ivfpq_res"]

# Graft source files whose jobs the trace reports by name.
LAYER_FILES = ["CsvIO.scala", "TableIO.scala", "LocalDml.scala",
               "ExecuteSql.scala", "Tables.scala", "ClusterOps.scala"]

EGEST_SQL = """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
  l_quantity::DECIMAL(12,2) AS qty, l_extendedprice::DECIMAL(12,2) AS price,
  l_discount::DECIMAL(4,2) AS disc, l_tax::DECIMAL(4,2) AS tax,
  l_returnflag, l_linestatus, CAST(l_shipdate AS DATE) AS ship
FROM bp_lineitem ORDER BY l_orderkey, l_linenumber"""

AGG_SQL = """SELECT n_name, COUNT(*) AS n_orders,
  SUM(b.o_totalprice::DECIMAL(18,2)) AS total,
  SUM(CASE WHEN b.o_orderstatus = 'H' THEN 1 ELSE 0 END) AS n_hot
FROM bp_big b JOIN customer c ON b.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n_name ORDER BY n_name"""

POST_SQL = """SELECT COUNT(*) AS n, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total,
  SUM(CASE WHEN o_orderstatus = 'H' THEN 1 ELSE 0 END) AS n_hot FROM bp_big"""


def script(dml):
    """The ExecuteSql step: Redshift-dialect ETL over the uploaded tables."""
    return f"""DROP TABLE IF EXISTS bp_big;
CREATE TABLE bp_big AS SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
  FROM bp_orders WHERE o_totalprice >= {dml['min_price']};
UPDATE bp_big SET o_orderstatus = 'H' WHERE o_totalprice >= {dml['hot_price']};
DELETE FROM bp_big WHERE o_custkey % 10 = {dml['drop_mod']};
CREATE TEMP TABLE bp_qty AS SELECT l_orderkey, CAST(SUM(l_quantity) AS BIGINT) AS qty
  FROM bp_lineitem GROUP BY l_orderkey;
MERGE INTO bp_big USING bp_qty s ON bp_big.o_orderkey = s.l_orderkey
  WHEN MATCHED AND s.qty > {dml['max_qty']} THEN DELETE"""


def duck_script(dml):
    """The same ETL in DuckDB (its MERGE is written as a DELETE)."""
    return f"""DROP TABLE IF EXISTS bp_big;
CREATE TABLE bp_big AS SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
  FROM bp_orders WHERE o_totalprice >= {dml['min_price']};
UPDATE bp_big SET o_orderstatus = 'H' WHERE o_totalprice >= {dml['hot_price']};
DELETE FROM bp_big WHERE o_custkey % 10 = {dml['drop_mod']};
DELETE FROM bp_big WHERE o_orderkey IN (SELECT l_orderkey FROM bp_lineitem
  GROUP BY l_orderkey HAVING SUM(l_quantity) > {dml['max_qty']})"""


def ops(workload, spec):
    if workload == "llm_ops":
        return [{"name": q, "kind": "operator"} for q in LLM_OPS]
    up, dml = spec["upload_dir"], spec["dml"]
    return [
        {"name": "upload_lineitem", "kind": "upload", "folder": up, "regex": True,
         "file": r"li_part_[0-9]+\.csv$", "table": "bp_lineitem", "method": "replace"},
        {"name": "upload_orders_first", "kind": "upload", "folder": up, "regex": False,
         "file": "ord_part_1.csv", "table": "bp_orders", "method": "replace"},
        {"name": "upload_orders_rest", "kind": "upload", "folder": up, "regex": True,
         "file": r"ord_part_([2-9]|[1-9][0-9]+)\.csv$", "table": "bp_orders",
         "method": "append"},
        {"name": "etl_script", "kind": "execute", "sql": script(dml), "check_sql": POST_SQL},
        {"name": "store_agg", "kind": "store", "sql": AGG_SQL, "file": "agg.csv"},
        {"name": "store_egest", "kind": "store", "sql": EGEST_SQL, "file": "egest.csv"},
    ]


def _con(fixtures):
    con = duck()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixtures}/{t}.parquet'")
    return con


def fixed_expected(fixtures, oracles):
    """Check values that do not depend on the seed."""
    con = _con(fixtures)
    exp = {}
    for q in LLM_OPS:
        exp[q] = canon.digest(con.execute(oracles[q]).fetchall(), ordered=False)
    con.execute("CREATE VIEW bp_lineitem AS SELECT * FROM lineitem")
    cur = con.execute(EGEST_SQL)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    exp["store_egest"] = canon.text_sha256(canon.csv_text(cols, rows))
    exp["rows.store_egest"] = len(rows)
    return exp


def seed_expected(fixtures, spec):
    """Check values and row counts for one seed's blueprint cycle."""
    con = _con(fixtures)
    dml = spec["dml"]
    con.execute("CREATE TABLE bp_lineitem AS SELECT * FROM lineitem")
    con.execute("CREATE TABLE bp_orders AS SELECT * FROM orders")
    for stmt in duck_script(dml).split(";"):
        con.execute(stmt)
    exp = {"upload_lineitem": str(spec["lineitem_parts"]),
           "upload_orders_first": "1",
           "upload_orders_rest": str(spec["orders_parts"] - 1)}
    exp["etl_script"] = canon.digest(con.execute(POST_SQL).fetchall(), ordered=True)
    cur = con.execute(AGG_SQL)
    cols, rows = [d[0] for d in cur.description], cur.fetchall()
    exp["store_agg"] = canon.text_sha256(canon.csv_text(cols, rows))
    exp["rows.store_agg"] = len(rows)
    n_li = con.execute("SELECT count(*) FROM lineitem").fetchone()[0]
    n_ord = con.execute("SELECT count(*) FROM orders").fetchone()[0]
    first = sum(1 for _ in open(os.path.join(spec["upload_dir"], "ord_part_1.csv"))) - 1
    exp["rows.upload_lineitem"] = n_li
    exp["rows.upload_orders_first"] = first
    exp["rows.upload_orders_rest"] = n_ord - first
    return exp
