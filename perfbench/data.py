#!/usr/bin/env python3
"""Seeded input tables for the benchmark, written by DuckDB.

    python3 perfbench/data.py --dir <out> --seed <n> \
        --rows customer=1500,orders=1500,... --tables region,nation,... \
        [--files 4]

Each table lands as <out>/<name>.parquet/part-<k>.parquet, the layout
graft.Sql.open reads, with the column names and types of graft's
TPC-H-shaped test data. Every value is a hash of (seed, column salt, row
key), so a seed gives the same rows on any host, and DuckDB's own check of
the engine reads the very files the engine reads. Fact tables are split
into --files files by key range, so their scans split across cores.
"""
import argparse
import os

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
           "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ",
           "JAPAN", "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU",
           "CHINA", "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA",
           "UNITED KINGDOM", "UNITED STATES"]
NATION_REGION = [0, 1, 1, 1, 4, 0, 3, 3, 2, 2, 4, 4, 2, 4, 0, 0, 0, 1, 2, 3,
                 4, 2, 3, 3, 1]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
TYPE_A = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
TYPE_B = ["ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED"]
TYPE_C = ["TIN", "NICKEL", "BRASS", "STEEL", "COPPER"]
COLORS = ["almond", "azure", "blush", "chiffon", "coral", "cream", "forest",
          "ivory", "khaki", "lace", "linen", "maroon", "navy", "olive",
          "peach", "plum", "rose", "sienna", "tan", "wheat"]
EVENT_TYPES = ["view", "click", "cart", "buy", "error"]
WORDS = ["a", "the", "data", "table", "scan", "join", "agg", "query",
         "spark", "fast", "slow", "big", "small", "row", "column", "value",
         "key", "hash", "sort", "merge", "batch", "stream", "window",
         "filter", "group", "order", "line", "part", "customer", "vector",
         "index", "lake", "file", "log", "commit", "plan", "cost", "shuffle",
         "task", "stage"]


def lst(xs):
    return "[" + ", ".join("'" + x.replace("'", "''") + "'" for x in xs) + "]"


class Gen:
    def __init__(self, seed, rows):
        self.seed, self.z = seed, rows

    def mod(self, salt, m, *ids):
        return f"(hash({self.seed}, {salt}, {', '.join(ids)}) % {m})::BIGINT"

    def pick(self, xs, i):
        return f"({lst(xs)})[{i} + 1]"

    def money(self, salt, lo, span, *ids):
        return f"(({self.mod(salt, span * 100, *ids)} + {lo * 100}) / 100.0)::DOUBLE"

    def day(self, ids):
        return f"(TIMESTAMP '1992-01-01' + to_days({self.mod(20, 2400, ids)}::INT))"

    def region(self):
        return (f"SELECT id::INT AS r_regionkey, {self.pick(REGIONS, 'id')} "
                f"AS r_name FROM range(5) t(id)"), None

    def nation(self):
        return (f"SELECT id::INT AS n_nationkey, {self.pick(NATIONS, 'id')} "
                f"AS n_name, ({NATION_REGION})[id + 1]::INT AS n_regionkey "
                f"FROM range(25) t(id)"), None

    def customer(self):
        return (f"""SELECT id AS c_custkey,
            'Customer#' || lpad(id::VARCHAR, 9, '0') AS c_name,
            {self.mod(1, 25, 'id')}::INT AS c_nationkey,
            {self.money(2, -999, 10999, 'id')} AS c_acctbal,
            {self.pick(SEGMENTS, self.mod(3, 5, 'id'))} AS c_mktsegment
            FROM range(1, {self.z['customer'] + 1}) t(id)"""), None

    def supplier(self):
        return (f"""SELECT id AS s_suppkey,
            'Supplier#' || lpad(id::VARCHAR, 9, '0') AS s_name,
            {self.mod(4, 25, 'id')}::INT AS s_nationkey,
            {self.money(5, -999, 10999, 'id')} AS s_acctbal
            FROM range(1, {self.z['supplier'] + 1}) t(id)"""), None

    def part(self):
        m = self.mod
        return (f"""SELECT id AS p_partkey,
            {self.pick(COLORS, m(6, 20, 'id'))} || ' ' ||
              {self.pick(COLORS, m(7, 20, 'id'))} AS p_name,
            'Brand#' || ({m(8, 5, 'id')} + 1) || ({m(9, 5, 'id')} + 1)
              AS p_brand,
            {self.pick(TYPE_A, m(10, 6, 'id'))} || ' ' ||
              {self.pick(TYPE_B, m(11, 5, 'id'))} || ' ' ||
              {self.pick(TYPE_C, m(12, 5, 'id'))} AS p_type,
            ({m(13, 50, 'id')} + 1)::INT AS p_size,
            {self.money(14, 900, 1100, 'id')} AS p_retailprice
            FROM range(1, {self.z['part'] + 1}) t(id)"""), None

    def orders(self):
        m = self.mod
        return (f"""SELECT id AS o_orderkey,
            {m(21, self.z['customer'], 'id')} + 1 AS o_custkey,
            {self.pick(['F', 'O', 'P'], m(22, 3, 'id'))} AS o_orderstatus,
            {self.money(23, 800, 400000, 'id')} AS o_totalprice,
            {self.day('id')} AS o_orderdate,
            {self.pick(PRIORITIES, m(24, 5, 'id'))} AS o_orderpriority
            FROM range(1, {self.z['orders'] + 1}) t(id)
            WHERE id BETWEEN {{lo}} AND {{hi}}"""), self.z["orders"]

    def lineitem(self):
        """1-7 lines per order (4 on average, like TPC-H)."""
        m = self.mod
        k = ("ok", "ln")
        qty = f"({m(32, 50, *k)} + 1)::DOUBLE"
        return (f"""SELECT ok AS l_orderkey,
            {m(31, self.z['part'], *k)} + 1 AS l_partkey,
            {m(33, self.z['supplier'], *k)} + 1 AS l_suppkey,
            ln::INT AS l_linenumber,
            {qty} AS l_quantity,
            {qty} * {self.money(34, 900, 1100, *k)} AS l_extendedprice,
            ({m(35, 11, *k)} / 100.0)::DOUBLE AS l_discount,
            ({m(36, 9, *k)} / 100.0)::DOUBLE AS l_tax,
            {self.pick(['R', 'A', 'N'], m(37, 3, *k))} AS l_returnflag,
            {self.pick(['O', 'F'], m(38, 2, *k))} AS l_linestatus,
            {self.day('ok')} + to_days(({m(39, 121, *k)} + 1)::INT)
              AS l_shipdate
            FROM range(1, {self.z['orders'] + 1}) o(ok),
                 range(1, 8) l(ln)
            WHERE ln <= {m(30, 7, 'ok')} + 1
              AND ok BETWEEN {{lo}} AND {{hi}}"""), self.z["orders"]

    def events(self):
        m = self.mod
        return (f"""SELECT id AS event_id,
            TIMESTAMP '1992-01-01' + to_seconds(id * 37 + {m(40, 37, 'id')})
              AS ts,
            {m(41, 500, 'id')} AS user_id,
            {self.pick(EVENT_TYPES, m(42, 5, 'id'))} AS event_type,
            {self.money(43, 0, 100, 'id')} AS value,
            '{{"k": ' || {m(44, 100, 'id')} || '}}' AS props
            FROM range(0, {self.z['events']}) t(id)"""), None

    def documents(self):
        """Documents over a 40-word vocabulary. About one in eight re-uses
        an earlier document's words with one word swapped, and one in
        twenty copies one exactly, so every dedup variant finds pairs."""
        m = self.mod
        kind = m(50, 40, 'id')  # 0-1 exact copy, 2-6 near copy, else own
        src = (f"(CASE WHEN {kind} <= 6 AND id > 20 "
               f"THEN id - {m(51, 20, 'id')} - 1 ELSE id END)")
        swap = (f"(CASE WHEN {kind} BETWEEN 2 AND 6 "
                f"THEN {m(53, 10, 'id')} + 1 ELSE -1 END)")
        words = (f"list_transform(range(1, {m(52, 100, 'src')} + 21), "
                 f"i -> CASE WHEN i = swap THEN 'changed' ELSE "
                 f"{self.pick(WORDS, m(54, 40, 'src', 'i'))} END)")
        return (f"""SELECT id AS doc_id, text,
            {self.pick(['en', 'en', 'de', 'fr'], m(55, 4, 'src'))} AS lang,
            'src' || {m(56, 5, 'id')} AS source,
            length(text)::BIGINT AS n_chars
            FROM (SELECT id, src, array_to_string({words}, ' ') AS text
                  FROM (SELECT id, {src} AS src, {swap} AS swap
                        FROM range(0, {self.z['documents']}) t(id)))
            WHERE id BETWEEN {{lo}} AND {{hi}}"""), self.z["documents"] - 1

    def embeddings(self):
        """64-dim float embeddings around 20 seeded centroids."""
        m = self.mod
        comp = (f"list_transform(range(64), j -> "
                f"(({m(61, 2001, 'c', 'j')} - 1000) / 1000.0 + "
                f"({m(62, 2001, 'id', 'j')} - 1000) / 4000.0)::FLOAT)")
        return (f"""SELECT id AS vec_id, {comp} AS embedding,
            c::INT AS label
            FROM (SELECT id, {m(60, 20, 'id')} AS c
                  FROM range(0, {self.z['embeddings']}) t(id))
            WHERE id BETWEEN {{lo}} AND {{hi}}"""), self.z["embeddings"] - 1


def generate(out, seed, rows, tables, files=4):
    import duckdb
    con = duckdb.connect(config={"threads": 2, "memory_limit": "1GB",
                                 "temp_directory": os.path.join(out, ".tmp")})
    g = Gen(seed, rows)
    for t in tables:
        sql, last_key = getattr(g, t)()
        d = os.path.join(out, f"{t}.parquet")
        os.makedirs(d, exist_ok=True)
        if last_key is None:
            parts = [sql]
        else:
            first = 0 if t in ("documents", "embeddings") else 1
            n = last_key - first + 1
            cuts = [first + n * k // files for k in range(files + 1)]
            parts = [sql.format(lo=cuts[k], hi=cuts[k + 1] - 1)
                     for k in range(files)]
        for k, q in enumerate(parts):
            con.execute(f"COPY (SELECT * FROM ({q}) ORDER BY ALL) "
                        f"TO '{d}/part-{k:05d}.parquet' (FORMAT PARQUET)")
    con.close()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rows", required=True,
                    help="row counts per table, as name=count,...")
    ap.add_argument("--tables", required=True)
    ap.add_argument("--files", type=int, default=4)
    a = ap.parse_args()
    rows = {k: int(v) for k, v in
            (kv.split("=") for kv in a.rows.split(","))}
    generate(a.dir, a.seed, rows, a.tables.split(","), a.files)


if __name__ == "__main__":
    main()
