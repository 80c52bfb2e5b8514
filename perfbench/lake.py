"""The ``lake_ingest`` job: landing files, the pre-seeded lake, the
algorithm configs of one pass, and the DuckDB output check.

Everything derives from the seeded star tables (inputs.py). A pass runs
the reference's own load algorithms through ``operators.base.REGISTRY``
against a fresh copy of the pre-seeded lake:

* ``orders_full``: FullLoad of DSV orders, a full version swap of the
  catalog table ``orders``, with table statistics;
* ``lineitem_b1``, ``lineitem_b2``: two nightly AppendLoad batches whose
  year/month/day partitions come from the file names; the first
  overwrites partitions, the second unions late rows into an existing day;
* ``orders_delta``: a partition-scoped DeltaLoad of CDC upserts and
  deletes into the table ``orders_active``;
* ``events_raw`` then ``events_flat``: FullLoad of JSON with a nested
  ``props`` struct and a ``tags`` array, then NestedFlattener;
* ``events_wide``: Transpose of per-user totals of one month;
* ``fixed_parsed``: FixedSizeStringExtractor of fixed-width lines.

All outputs are year/month (lineitem: year/month/day) partitioned parquet.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import numpy as np
import pandas as pd

EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
_DEVICES = ["ios", "android", "web"]
_LINEITEM_COLS = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
]
_ORDER_COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "orderdate",
]
_LINE_DAYS = 10   # nightly lineitem days, 2024-03-01 .. 2024-03-10
_DELTA_YEARS = (1996, 1999)


def _field(name: str, typ) -> dict:
    return {"name": name, "type": typ, "nullable": True, "metadata": {}}


def _struct(*fields) -> dict:
    return {"type": "struct", "fields": list(fields)}


def _yyyymmdd(ts: pd.Series) -> np.ndarray:
    return (ts.dt.year * 10000 + ts.dt.month * 100 + ts.dt.day).to_numpy(np.int32)


class Lake:
    """Paths, frames and configs of one ``lake_ingest`` work directory."""

    def __init__(self, root: str, star: dict[str, pd.DataFrame], seed: int):
        self.landing = os.path.join(root, "landing")
        self.seed_lake = os.path.join(root, "seed_lake")
        self.lake = os.path.join(root, "lake")
        self.frames = self._frames(star, np.random.default_rng(seed + 1))

    # ------------------------------------------------------------ inputs
    @staticmethod
    def _frames(star, rng) -> dict[str, pd.DataFrame]:
        f: dict[str, pd.DataFrame] = {}
        o = star["orders"]
        orders = pd.DataFrame({
            "o_orderkey": o.o_orderkey, "o_custkey": o.o_custkey,
            "o_orderstatus": o.o_orderstatus, "o_totalprice": o.o_totalprice,
            "orderdate": _yyyymmdd(o.o_orderdate),
            "o_orderpriority": o.o_orderpriority,
        })
        orders["year"] = (orders.orderdate // 10000).astype(np.int32)
        f["orders_full"] = orders
        old = orders.iloc[: len(orders) * 2 // 3].copy()
        old["o_totalprice"] = np.round(old.o_totalprice * 0.9, 2)
        f["orders_old"] = old

        li = star["lineitem"][_LINEITEM_COLS].copy()
        li["day"] = (li.l_orderkey % _LINE_DAYS + 1).astype(np.int32)
        li["year"], li["month"] = np.int32(2024), np.int32(3)
        # seed lake: days 1-7, minus late rows of day 7 that batch 2 adds;
        # batch 1 brings days 8-9, batch 2 day 10
        late = (li.day == 7) & (rng.random(len(li)) < 0.3)
        li["batch"] = np.select([li.day <= 7, li.day <= 9], [0, 1], default=2)
        li.loc[late, "batch"] = 2
        f["lineitem"] = li

        active = orders[_ORDER_COLS + ["year"]].copy()
        f["active"] = active
        f["delta"] = Lake._delta(active, rng)

        ev = star["events"]
        day = pd.Timestamp("2024-01-01") + pd.to_timedelta(
            (ev.event_id * 7) % 366, "D")
        events = pd.DataFrame({
            "event_id": ev.event_id, "date": _yyyymmdd(pd.Series(day)),
            "user_id": ev.user_id, "event_type": ev.event_type, "value": ev.value,
            "props_k": [json.loads(p)["k"] for p in ev.props],
            "props_device": rng.choice(_DEVICES, len(ev)),
            "n_tags": rng.integers(0, 3, len(ev)),
        })
        events["year"] = (events.date // 10000).astype(np.int32)
        events["month"] = (events.date // 100 % 100).astype(np.int32)
        f["events"] = events
        f["metrics"] = (
            events[events.month == 12]
            .groupby(["user_id", "year", "month", "event_type"],
                     as_index=False)["value"].sum()
            .rename(columns={"value": "total"})
            .assign(total=lambda d: d.total.round(2))
        )

        recent = orders[orders.year == 2001]
        f["fixed"] = pd.DataFrame({
            "line": [
                f"{k:010d}{c:08d}{s:1}{p:<15}" for k, c, s, p in zip(
                    recent.o_orderkey, recent.o_custkey,
                    recent.o_orderstatus, recent.o_orderpriority)
            ],
            "year": recent.year.to_numpy(np.int32),
            "month": (recent.orderdate // 100 % 100).to_numpy(np.int32),
        })
        return f

    @staticmethod
    def _delta(active: pd.DataFrame, rng) -> pd.DataFrame:
        """CDC records for two years: updates (1-2 versions), deletes,
        and inserts of new keys; order dates never move partitions."""
        scope = active[active.year.isin(_DELTA_YEARS)]
        touched = scope.sample(frac=0.15, random_state=rng)
        rows = []
        for r in touched.itertuples(index=False):
            versions = int(rng.integers(1, 3))
            for ts in range(1, versions + 1):
                mode = "D" if ts == versions and rng.random() < 0.3 else "N"
                rows.append((ts, r.o_orderkey, r.o_custkey, r.o_orderstatus,
                             round(r.o_totalprice + 10.0 * ts, 2), r.orderdate, mode))
        new_dates = scope.orderdate.sample(50, replace=True, random_state=rng)
        for i, d in enumerate(new_dates):
            rows.append((1, 1_000_000 + i, i, "O", 1000.0 + i, d, ""))
        return pd.DataFrame(rows, columns=[
            "ts", "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "orderdate", "recordmode",
        ]).astype({"orderdate": np.int32})

    def write_inputs(self) -> None:
        """Landing files plus the pre-seeded lake, written without Spark."""
        f = self.frames
        os.makedirs(self.landing, exist_ok=True)
        self._dsv(f["orders_full"].drop(columns="year"), "orders_full", "orders.dsv")
        li = f["lineitem"]
        for b in (1, 2):
            for day, g in li[li.batch == b].groupby("day"):
                half = (len(g) + 1) // 2
                for part, chunk in enumerate((g.iloc[:half], g.iloc[half:])):
                    self._dsv(chunk[_LINEITEM_COLS], f"lineitem_b{b}",
                              f"lineitem_202403{day:02d}-{part:05d}.dsv")
        d = os.path.join(self.landing, "orders_delta")
        os.makedirs(d)
        f["delta"].to_parquet(os.path.join(d, "delta.parquet"), index=False)
        d = os.path.join(self.landing, "events_json")
        os.makedirs(d)
        with open(os.path.join(d, "events.json"), "w") as fh:
            for r in f["events"].itertuples(index=False):
                fh.write(json.dumps({
                    "event_id": int(r.event_id), "date": int(r.date),
                    "user_id": int(r.user_id), "event_type": r.event_type,
                    "value": float(r.value),
                    "props": {"k": int(r.props_k), "device": r.props_device},
                    "tags": [f"t{(r.event_id + j) % 7}" for j in range(r.n_tags)],
                }) + "\n")
        d = os.path.join(self.landing, "metrics_long")
        os.makedirs(d)
        f["metrics"].to_parquet(os.path.join(d, "metrics.parquet"), index=False)
        f["fixed"].to_parquet(os.path.join(self.landing, "fixed_lines"),
                              partition_cols=["year", "month"], index=False)
        # the lake as it stood before tonight's loads
        f["orders_old"].to_parquet(
            os.path.join(self.seed_lake, "orders", "20000101_000000"),
            partition_cols=["year"], index=False)
        f["active"].to_parquet(os.path.join(self.seed_lake, "orders_active"),
                               partition_cols=["year"], index=False)
        li[li.batch == 0][_LINEITEM_COLS + ["year", "month", "day"]].to_parquet(
            os.path.join(self.seed_lake, "lineitem"),
            partition_cols=["year", "month", "day"], index=False)

    def _dsv(self, df: pd.DataFrame, sub: str, name: str) -> None:
        d = os.path.join(self.landing, sub)
        os.makedirs(d, exist_ok=True)
        df.to_csv(os.path.join(d, name), sep="|", header=False, index=False)

    def landing_bytes(self) -> int:
        return tree_bytes(self.landing)

    # -------------------------------------------------------------- pass
    def reset(self, spark) -> None:
        """Fresh copy of the pre-seeded lake, catalog tables re-pointed."""
        shutil.rmtree(self.lake, ignore_errors=True)
        shutil.copytree(self.seed_lake, self.lake)
        for table, loc, ddl, part in (
            ("orders", os.path.join(self.lake, "orders", "20000101_000000"),
             "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
             "o_totalprice double, orderdate int, o_orderpriority string, year int",
             "year"),
            ("orders_active", os.path.join(self.lake, "orders_active"),
             "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
             "o_totalprice double, orderdate int, year int", "year"),
        ):
            spark.sql(f"DROP TABLE IF EXISTS {table}")
            spark.sql(f"CREATE TABLE {table} ({ddl}) USING PARQUET "
                      f"PARTITIONED BY ({part}) LOCATION '{loc}'")
            spark.catalog.recoverPartitions(table)

    def ops(self) -> list[list[tuple[str, str, dict, str]]]:
        """Chains of (op name, algorithm, params, target dir). Ops within
        a chain depend on each other and keep their order; the chains
        are independent and may run in any order."""
        L, lake = self.landing, self.lake
        li_schema = _struct(
            _field("l_orderkey", "long"), _field("l_partkey", "long"),
            _field("l_suppkey", "long"), _field("l_linenumber", "integer"),
            _field("l_quantity", "double"), _field("l_extendedprice", "double"),
            _field("l_discount", "double"), _field("l_tax", "double"),
            _field("l_returnflag", "string"), _field("l_linestatus", "string"),
        )
        ym = ["year", "month"]
        chains = [[("orders_full", "FullLoad", {
            "source_dir": f"{L}/orders_full", "file_format": "dsv",
            "delimiter": "|", "target_table": "orders",
            "target_dir": f"{lake}/orders", "target_partitions": ["year"],
            "partition_column": "orderdate", "partition_column_format": "yyyyMMdd",
            "output_files_num": 4, "compute_table_statistics": True,
        }, f"{lake}/orders")]]
        nightly = []
        for b, mode in ((1, "OverwritePartitions"), (2, "AppendUnionPartitions")):
            nightly.append((f"lineitem_b{b}", "AppendLoad", {
                "source_dir": f"{L}/lineitem_b{b}", "file_format": "dsv",
                "delimiter": "|", "schema": li_schema,
                "target_location": f"{lake}/lineitem",
                "target_partitions": ["year", "month", "day"],
                "regex_filename": [
                    r"lineitem_(\d{4})\d{4}-\d+",
                    r"lineitem_\d{4}(\d{2})\d{2}-\d+",
                    r"lineitem_\d{6}(\d{2})-\d+",
                ],
                "load_mode": mode,
            }, f"{lake}/lineitem"))
        chains.append(nightly)
        chains.append([("orders_delta", "DeltaLoad", {
            "delta_records_file_path": f"{L}/orders_delta",
            "active_records_table_lake": "orders_active",
            "business_key": ["o_orderkey"], "technical_key": ["ts"],
            "target_partitions": ["year"], "partition_column": "orderdate",
            "partition_column_format": "yyyyMMdd",
            "target_location": f"{lake}/orders_active",
        }, f"{lake}/orders_active")])
        chains.append([("events_raw", "FullLoad", {
            "source_dir": f"{L}/events_json", "file_format": "json",
            "schema": _struct(
                _field("event_id", "long"), _field("date", "integer"),
                _field("user_id", "long"), _field("event_type", "string"),
                _field("value", "double"),
                _field("props", _struct(_field("k", "long"),
                                        _field("device", "string"))),
                _field("tags", {"type": "array", "elementType": "string",
                                "containsNull": True}),
            ),
            "target_location": f"{lake}/events_raw", "target_partitions": ym,
            "partition_column": "date", "partition_column_format": "yyyyMMdd",
            "output_files_num": 4,
        }, f"{lake}/events_raw"), ("events_flat", "NestedFlattener", {
            "source_location": f"{lake}/events_raw",
            "target_location": f"{lake}/events_flat", "target_partitions": ym,
            "fields_to_flatten": ["props"],
            "side_flatten": {"tags": ["first_tag__0"]},
        }, f"{lake}/events_flat")])
        chains.append([("events_wide", "Transpose", {
            "source_location": f"{L}/metrics_long",
            "target_location": f"{lake}/events_wide", "target_partitions": ym,
            "group_by_columns": ["user_id", "year", "month"],
            "pivot_column": "event_type", "aggregation_column": "total",
            "target_schema": _struct(
                _field("user_id", "long"), _field("year", "integer"),
                _field("month", "integer"),
                *[_field(t, "double") for t in EVENT_TYPES]),
            "load_mode": "OverwritePartitions",
        }, f"{lake}/events_wide")])
        chains.append([("fixed_parsed", "FixedSizeStringExtractor", {
            "source_location": f"{L}/fixed_lines", "source_field": "line",
            "substring_positions": ["1,10", "11,18", "19,19", "20,34"],
            "target_schema": _struct(
                _field("orderkey", "long"), _field("custkey", "long"),
                _field("status", "string"), _field("priority", "string"),
                _field("year", "integer"), _field("month", "integer")),
            "target_partitions": ym,
            "target_location": f"{lake}/fixed_parsed",
            "load_mode": "OverwritePartitions",
        }, f"{lake}/fixed_parsed")])
        return chains

    # ------------------------------------------------------------- check
    def check(self) -> list[str]:
        """Compare every target's row count, partition set and
        order-independent checksum with DuckDB over the generated
        frames. Returns the names of the ops whose target differs or
        cannot be read."""
        import duckdb

        con = duckdb.connect()
        for name, df in self.frames.items():
            con.register(name, df)
        lake = self.lake
        versions = os.path.join(lake, "orders")
        orders_dir = next((
            os.path.join(versions, d) for d in sorted(os.listdir(versions))
            if not d.startswith((".", "_"))
        ), versions)
        o_cols = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, orderdate"
        # the ops that write each target: (path, partitions, columns, expected)
        targets = {
            ("orders_full",): (orders_dir, ["year"],
                               f"{o_cols}, o_orderpriority", "SELECT * FROM orders_full"),
            ("lineitem_b1", "lineitem_b2"): (
                f"{lake}/lineitem", ["year", "month", "day"],
                ", ".join(_LINEITEM_COLS), "SELECT * FROM lineitem"),
            ("orders_delta",): (f"{lake}/orders_active", ["year"], o_cols, f"""
                WITH latest AS (
                    SELECT * FROM delta QUALIFY row_number() OVER (
                        PARTITION BY o_orderkey ORDER BY ts DESC) = 1),
                aff AS (SELECT DISTINCT orderdate // 10000 AS y FROM delta)
                SELECT {o_cols}, year FROM active
                WHERE year NOT IN (SELECT y FROM aff)
                   OR o_orderkey NOT IN (SELECT o_orderkey FROM latest)
                UNION ALL
                SELECT {o_cols}, orderdate // 10000 AS year FROM latest
                WHERE recordmode IS NULL OR recordmode IN ('', 'N')"""),
            ("events_raw",): (f"{lake}/events_raw", ["year", "month"],
                              "event_id, date, user_id, event_type, value, "
                              "props.k, props.device, len(tags)",
                              """SELECT *, {'k': props_k, 'device': props_device}
                                     AS props, range(n_tags) AS tags FROM events"""),
            ("events_flat",): (f"{lake}/events_flat", ["year", "month"],
                               "event_id, date, user_id, event_type, value, "
                               "props__k, props__device, first_tag", """
                SELECT *, props_k AS props__k, props_device AS props__device,
                       CASE WHEN n_tags > 0 THEN 't' || (event_id % 7) END
                           AS first_tag FROM events"""),
            ("events_wide",): (f"{lake}/events_wide", ["year", "month"],
                               "user_id, " + ", ".join(EVENT_TYPES), f"""
                SELECT user_id, year, month, {", ".join(
                    f"max(total) FILTER (WHERE event_type = '{t}') AS {t}"
                    for t in EVENT_TYPES)}
                FROM metrics GROUP BY user_id, year, month"""),
            ("fixed_parsed",): (f"{lake}/fixed_parsed", ["year", "month"],
                                "orderkey, custkey, status, priority", """
                SELECT CAST(substr(line, 1, 10) AS BIGINT) AS orderkey,
                       CAST(substr(line, 11, 8) AS BIGINT) AS custkey,
                       substr(line, 19, 1) AS status,
                       nullif(trim(substr(line, 20, 15)), '') AS priority,
                       year, month FROM fixed"""),
        }
        summary = (
            "SELECT count(*), sum(hash(concat_ws('|', {cols}))), "
            "array_sort(list(DISTINCT concat_ws('/', {parts}))) FROM ({src})"
        )
        failed = []
        for ops, (path, parts, cols, expected_sql) in targets.items():
            cols_v = ", ".join(f"CAST({c} AS VARCHAR)" for c in cols.split(", "))
            parts_v = ", ".join(f"CAST({p} AS VARCHAR)" for p in parts)
            exp = con.execute(summary.format(
                cols=cols_v, parts=parts_v, src=expected_sql)).fetchone()
            try:
                act = con.execute(summary.format(
                    cols=cols_v, parts=parts_v,
                    src=f"SELECT * FROM read_parquet('{path}/**/*.parquet', "
                        "hive_partitioning = true)")).fetchone()
            except duckdb.Error as e:   # missing target or unreadable files
                print(f"cannot read {path}: {e}", file=sys.stderr)
                act = None
            if exp != act:
                failed.extend(ops)
        con.close()
        return failed


def tree_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total
