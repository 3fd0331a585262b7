"""Pure helpers of the benchmark: seeded inputs, percentiles, the
backlog-growth detector, span self time and the result normaliser.

Nothing here touches the engine, the file system or the clock, so every
function is covered by perfbench/test_bench_lib.py.
"""
import datetime
import decimal
import hashlib
import math
import random

# ---------------------------------------------------------------- stats


def percentile(values, p):
    """Linear-interpolated percentile (numpy's default rule), p in 0..100."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n, target=95.0, min_beyond=10, fallback_beyond=2):
    """The highest percentile <= target that keeps at least `min_beyond`
    of `n` samples above it, in whole percent. Runs with too few samples
    for that (fewer than 2 x min_beyond) keep `fallback_beyond` instead;
    None if even that leaves the percentile below the median."""
    for beyond in (min_beyond, fallback_beyond):
        if n > 0:
            p = min(target, math.floor(100.0 * (1.0 - beyond / n)))
            if p >= 50:
                return float(p)
    return None


def latency_summary(samples_ms, planned_n, target=95.0, min_beyond=10):
    """p50 and the tail percentile of `samples_ms` with the sample count.
    The tail percentile follows from the planned sample count, not from
    the count the run reached, so that every run of a workload reports
    the same percentile."""
    n = len(samples_ms)
    tail = tail_percentile(planned_n, target, min_beyond)
    return {
        "n": n,
        "p50_ms": percentile(samples_ms, 50) if n else None,
        "tail_pct": tail,
        "tail_ms": percentile(samples_ms, tail) if n and tail is not None else None,
    }


def median(values):
    return percentile(values, 50)


# -------------------------------------------------------------- backlog


def backlog_grows(ts, produced, processed, rate, tolerance=0.05,
                  skip_frac=0.25):
    """True if the backlog (produced - processed) grows by more than
    `tolerance` x `rate` events per second. A micro-batch engine commits
    in steps, so the backlog is a sawtooth: compare its lower envelope
    (the minimum) over the first and the second half of the samples,
    after skipping the first `skip_frac` of them (the start transient)."""
    k = int(len(ts) * skip_frac)
    ts, produced, processed = ts[k:], produced[k:], processed[k:]
    if len(ts) < 4:
        return False
    backlog = [a - b for a, b in zip(produced, processed)]
    h = len(ts) // 2
    dt = (ts[-1] - ts[0]) / 2
    if dt <= 0:
        return False
    return (min(backlog[h:]) - min(backlog[:h])) / dt > tolerance * rate


def commit_rate(commits):
    """Median over consecutive commits of events committed per second,
    from [(seconds, cumulative events)]; 0 with fewer than three commits."""
    rates = [(b[1] - a[1]) / (b[0] - a[0]) for a, b in zip(commits, commits[1:])
             if b[0] > a[0]]
    return median(rates) if len(rates) >= 2 else 0.0


# ---------------------------------------------------------------- spans


def self_times(spans):
    """Self time per layer in ms: each span's duration minus the part of
    its interval covered by its child spans."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = 0
        cur = s["start_ns"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ns"]):
            a = max(c["start_ns"], cur, s["start_ns"])
            b = min(c["end_ns"], s["end_ns"])
            if b > a:
                covered += b - a
                cur = b
        own = (s["end_ns"] - s["start_ns"] - covered) / 1e6
        out[s["layer"]] = out.get(s["layer"], 0.0) + own
    return out


# ----------------------------------------------------------- normaliser


def norm_cell(v):
    """One value as text: doubles rounded to 1e-2, timestamps with
    microseconds, NULL and NaN spelled out (tools/check_oracle.py's rule,
    plus timestamps and decimals so JSON and parquet results agree)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{round(v, 2):.2f}"
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if hasattr(v, "to_pydatetime"):  # pandas Timestamp
        return v.to_pydatetime().strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{norm_cell(x)}"
                              for k, x in sorted(v.items())) + "}"
    if hasattr(v, "item"):  # numpy scalar
        return norm_cell(v.item())
    return str(v)


def parse_typed(v, sql_type):
    """A gateway JSON value back to a Python value by its column type."""
    if v is None:
        return None
    t = sql_type.upper()
    if t.startswith("TIMESTAMP"):
        s = str(v)
        if "." in s:
            head, frac = s.split(".", 1)
            s = head + "." + (frac + "000000")[:6]
        return datetime.datetime.fromisoformat(s)
    if t in ("DOUBLE", "FLOAT") or t.startswith("DECIMAL"):
        return float(v)
    if t in ("BIGINT", "INT", "SMALLINT", "TINYINT"):
        return int(v)
    return v


def result_hash(columns, rows):
    """Order-insensitive hash of a result: columns sorted by name, each
    row normalised, rows sorted. Returns (hash hex, row count)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update("\x1e".join(sorted(columns)).encode())
    for line in lines:
        h.update(b"\x1d" + line.encode())
    return h.hexdigest(), len(lines)


def results_match(cols_a, rows_a, cols_b, rows_b, abs_tol=0.011, rel_tol=1e-9):
    """Equal hashes, or else the same rows with every double within one
    rounding step: two engines summing in different orders can land on
    either side of a .xx5 boundary, which the rounded hash cannot absorb."""
    if result_hash(cols_a, rows_a) == result_hash(cols_b, rows_b):
        return True
    if sorted(cols_a) != sorted(cols_b) or len(rows_a) != len(rows_b):
        return False

    def canon(cols, rows):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        out = []
        for r in rows:
            cells = [r[i] for i in order]
            cells = [float(c) if isinstance(c, decimal.Decimal) else c for c in cells]
            key = tuple("" if isinstance(c, float) else norm_cell(c) for c in cells)
            out.append((key, tuple(c if isinstance(c, float) else 0.0 for c in cells)))
        return sorted(out)

    for (ka, fa), (kb, fb) in zip(canon(cols_a, rows_a), canon(cols_b, rows_b)):
        if ka != kb:
            return False
        for x, y in zip(fa, fb):
            if not (math.isclose(x, y, rel_tol=rel_tol, abs_tol=abs_tol) or
                    (math.isnan(x) and math.isnan(y))):
                return False
    return True


# ------------------------------------------------------- seeded inputs

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]


def _day_range(r, days=30, span=3):
    d = r.randrange(1, days - span + 2)
    return (f"TIMESTAMP '2024-01-{d:02d} 00:00:00'",
            f"TIMESTAMP '2024-01-{d + span - 1:02d} 23:59:59'")


def _user_range(r, n_users, width=12):
    lo = r.randrange(0, max(1, n_users - width))
    return lo, lo + width - 1


def statement(shape, r, n_users):
    """(graft SQL text, DuckDB twin) for one statement shape, its
    parameter slots drawn from `r`."""
    if shape == "tpch_q1":
        d = r.choice(["1997-06-30", "1998-09-02", "1999-12-31", "2000-12-31"])
        body = ("SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, "
                "sum(l_extendedprice) AS sum_base_price, "
                "sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price, "
                "avg(l_discount) AS avg_disc, count(*) AS count_order "
                f"FROM lineitem WHERE l_shipdate <= TIMESTAMP '{d} 00:00:00' "
                "GROUP BY l_returnflag, l_linestatus")
        return body, body
    if shape == "tpch_q3":
        seg = r.choice(SEGMENTS)
        d = f"199{r.randrange(5, 9)}-0{r.randrange(1, 10)}-15"
        body = ("SELECT o_orderkey, o_orderdate, "
                "sum(l_extendedprice * (1 - l_discount)) AS revenue "
                "FROM customer JOIN orders ON c_custkey = o_custkey "
                "JOIN lineitem ON l_orderkey = o_orderkey "
                f"WHERE c_mktsegment = '{seg}' "
                f"AND o_orderdate < TIMESTAMP '{d} 00:00:00' "
                f"AND l_shipdate > TIMESTAMP '{d} 00:00:00' "
                f"AND o_orderkey % 50 = {r.randrange(50)} "
                "GROUP BY o_orderkey, o_orderdate")
        return body, body
    if shape == "tpch_q6":
        lo = r.choice([0.02, 0.04, 0.06])
        q = r.choice([20, 24, 30])
        y = r.randrange(1995, 2001)
        body = ("SELECT sum(l_extendedprice * l_discount) AS revenue, "
                "count(*) AS n FROM lineitem "
                f"WHERE l_shipdate >= TIMESTAMP '{y}-01-01 00:00:00' "
                f"AND l_shipdate < TIMESTAMP '{y + 1}-01-01 00:00:00' "
                f"AND l_discount BETWEEN {lo - 0.01:.2f} AND {lo + 0.01:.2f} "
                f"AND l_quantity < {q}")
        return body, body
    if shape == "tpch_q5":
        region = r.choice(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])
        y = r.randrange(1995, 2001)
        body = ("SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS revenue "
                "FROM customer JOIN orders ON c_custkey = o_custkey "
                "JOIN lineitem ON l_orderkey = o_orderkey "
                "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
                "JOIN nation ON s_nationkey = n_nationkey "
                "JOIN region ON n_regionkey = r_regionkey "
                f"WHERE r_name = '{region}' "
                f"AND o_orderdate >= TIMESTAMP '{y}-01-01 00:00:00' "
                f"AND o_orderdate < TIMESTAMP '{y + 1}-01-01 00:00:00' "
                "GROUP BY n_name")
        return body, body
    if shape == "tpch_q9":
        color = r.choice(COLORS)
        body = ("SELECT n_name AS nation, year(o_orderdate) AS o_year, "
                "sum(l_extendedprice * (1 - l_discount)) AS amount "
                "FROM lineitem JOIN part ON l_partkey = p_partkey "
                "JOIN supplier ON l_suppkey = s_suppkey "
                "JOIN orders ON l_orderkey = o_orderkey "
                "JOIN nation ON s_nationkey = n_nationkey "
                f"WHERE p_name LIKE '%{color}%' GROUP BY n_name, year(o_orderdate)")
        return body, body.replace("year(o_orderdate)", "CAST(year(o_orderdate) AS INTEGER)")
    if shape == "tumble":
        m = r.choice([15, 30, 60, 120])
        a, b = _day_range(r)
        spark = ("SELECT window_start AS wstart, window_end AS wend, event_type, "
                 "count(*) AS n, sum(value) AS sum_value "
                 f"FROM TABLE(TUMBLE(TABLE events, DESCRIPTOR(ts), INTERVAL '{m}' MINUTE)) "
                 f"WHERE ts BETWEEN {a} AND {b} "
                 "GROUP BY window_start, window_end, event_type")
        duck = (f"SELECT time_bucket(INTERVAL '{m} minutes', ts) AS wstart, "
                f"time_bucket(INTERVAL '{m} minutes', ts) + INTERVAL '{m} minutes' AS wend, "
                "event_type, count(*) AS n, sum(value) AS sum_value "
                f"FROM events WHERE ts BETWEEN {a} AND {b} GROUP BY 1, 2, 3")
        return spark, duck
    if shape == "hop":
        m = r.choice([15, 30])
        a, b = _day_range(r)
        spark = ("SELECT window_start AS wstart, window_end AS wend, event_type, "
                 "count(*) AS n, sum(value) AS sum_value "
                 f"FROM TABLE(HOP(TABLE events, DESCRIPTOR(ts), INTERVAL '{m}' MINUTE, "
                 f"INTERVAL '{2 * m}' MINUTE)) WHERE ts BETWEEN {a} AND {b} "
                 "GROUP BY window_start, window_end, event_type")
        duck = (f"SELECT time_bucket(INTERVAL '{m} minutes', ts) - k * INTERVAL '{m} minutes' AS wstart, "
                f"time_bucket(INTERVAL '{m} minutes', ts) - k * INTERVAL '{m} minutes' "
                f"+ INTERVAL '{2 * m} minutes' AS wend, "
                "event_type, count(*) AS n, sum(value) AS sum_value "
                "FROM events CROSS JOIN (VALUES (0), (1)) AS o(k) "
                f"WHERE ts BETWEEN {a} AND {b} GROUP BY 1, 2, 3")
        return spark, duck
    if shape == "cumulate":
        step = r.choice([15, 30])
        a, b = _day_range(r)
        k = 60 // step
        spark = ("SELECT window_start AS wstart, window_end AS wend, "
                 "count(*) AS n, sum(value) AS sum_value "
                 f"FROM TABLE(CUMULATE(TABLE events, DESCRIPTOR(ts), INTERVAL '{step}' MINUTE, "
                 f"INTERVAL '1' HOUR)) WHERE ts BETWEEN {a} AND {b} "
                 "GROUP BY window_start, window_end")
        vals = ", ".join(f"({j})" for j in range(1, k + 1))
        duck = ("SELECT date_trunc('hour', ts) AS wstart, "
                f"date_trunc('hour', ts) + j * INTERVAL '{step} minutes' AS wend, "
                "count(*) AS n, sum(value) AS sum_value "
                f"FROM events CROSS JOIN (VALUES {vals}) AS o(j) "
                f"WHERE ts < date_trunc('hour', ts) + j * INTERVAL '{step} minutes' "
                f"AND ts BETWEEN {a} AND {b} GROUP BY 1, 2")
        return spark, duck
    if shape == "session":
        gap = r.choice([10, 30, 60])
        lo, hi = _user_range(r, n_users)
        spark = ("SELECT window_start AS wstart, window_end AS wend, user_id, "
                 "count(*) AS n, sum(value) AS sum_value "
                 "FROM TABLE(SESSION(TABLE (SELECT * FROM events "
                 f"WHERE user_id BETWEEN {lo} AND {hi}) PARTITION BY user_id, "
                 f"DESCRIPTOR(ts), INTERVAL '{gap}' MINUTE)) "
                 "GROUP BY window_start, window_end, user_id")
        duck = ("WITH ev AS (SELECT * FROM events "
                f"WHERE user_id BETWEEN {lo} AND {hi}), "
                "marked AS (SELECT user_id, ts, value, "
                "CASE WHEN lag(ts) OVER w IS NULL "
                f"OR ts - lag(ts) OVER w >= INTERVAL '{gap} minutes' "
                "THEN 1 ELSE 0 END AS new_s "
                "FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
                "sessions AS (SELECT user_id, ts, value, sum(new_s) OVER "
                "(PARTITION BY user_id ORDER BY ts "
                "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM marked) "
                f"SELECT min(ts) AS wstart, max(ts) + INTERVAL '{gap} minutes' AS wend, "
                "user_id, count(*) AS n, sum(value) AS sum_value "
                "FROM sessions GROUP BY user_id, sid")
        return spark, duck
    if shape == "match_recognize":
        v, p = r.sample(EVENT_TYPES, 2)
        spark = ("SELECT * FROM events MATCH_RECOGNIZE ( PARTITION BY user_id "
                 "ORDER BY ts, event_id MEASURES COUNT(V.*) AS n_views, "
                 "FIRST(V.event_id) AS first_view, P.event_id AS purchase_id "
                 "ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW "
                 f"PATTERN (V+ P) DEFINE V AS event_type = '{v}', "
                 f"P AS event_type = '{p}' ) AS mr")
        duck = ("WITH ordered AS (SELECT user_id, event_id, event_type, "
                "row_number() OVER w AS rn, "
                "CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type "
                "THEN 1 ELSE 0 END AS brk FROM events "
                "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
                "isl AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY rn "
                "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM ordered), "
                "v AS (SELECT user_id, island, count(*) AS n_views, "
                "arg_min(event_id, rn) AS first_view, max(rn) AS last_rn "
                f"FROM isl WHERE event_type = '{v}' GROUP BY user_id, island), "
                "p AS (SELECT user_id, event_id AS purchase_id, rn FROM isl "
                f"WHERE event_type = '{p}') "
                "SELECT p.user_id, v.n_views, v.first_view, p.purchase_id "
                "FROM p JOIN v ON v.user_id = p.user_id AND v.last_rn = p.rn - 1")
        return spark, duck
    if shape == "window_topn":
        m = r.choice([30, 60, 120])
        n = r.choice([1, 2, 3])
        a, b = _day_range(r)
        spark = ("SELECT window_start, window_end, event_type, cnt, rn FROM ( "
                 "SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start, window_end "
                 "ORDER BY cnt DESC, event_type) AS rn FROM ( "
                 "SELECT window_start, window_end, event_type, count(*) AS cnt "
                 f"FROM TABLE(TUMBLE(TABLE events, DESCRIPTOR(ts), INTERVAL '{m}' MINUTE)) "
                 f"WHERE ts BETWEEN {a} AND {b} "
                 f"GROUP BY window_start, window_end, event_type)) WHERE rn <= {n}")
        duck = ("SELECT window_start, window_end, event_type, cnt, rn FROM ( "
                "SELECT *, row_number() OVER (PARTITION BY window_start, window_end "
                "ORDER BY cnt DESC, event_type) AS rn FROM ( "
                f"SELECT time_bucket(INTERVAL '{m} minutes', ts) AS window_start, "
                f"time_bucket(INTERVAL '{m} minutes', ts) + INTERVAL '{m} minutes' AS window_end, "
                "event_type, count(*)::BIGINT AS cnt FROM events "
                f"WHERE ts BETWEEN {a} AND {b} GROUP BY 1, 2, 3)) WHERE rn <= {n}")
        return spark, duck
    raise ValueError(shape)


SHAPES = ["tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6", "tpch_q9", "tumble",
          "hop", "cumulate", "session", "match_recognize", "window_topn"]


def statements(seed, n, n_users):
    """`n` statements, the shapes taken in turn so each appears n/11
    times, each with parameter slots drawn by the seed, in a seeded order.
    Returns [(shape, graft text, DuckDB twin)]."""
    r = random.Random(f"statements-{seed}")
    shapes = [SHAPES[i % len(SHAPES)] for i in range(n)]
    r.shuffle(shapes)
    return [(s,) + statement(s, r, n_users) for s in shapes]


def orders(seed, items, n_passes, tag):
    """`n_passes` seeded permutations of `items`."""
    r = random.Random(f"{tag}-{seed}")
    out = []
    for _ in range(n_passes):
        xs = list(items)
        r.shuffle(xs)
        out.append(xs)
    return out


INSERT, UPDATE_BEFORE, UPDATE_AFTER, DELETE = 0, 1, 2, 3


def changelog(seed, n_events, n_keys=2000, zipf_s=1.1, max_live=12):
    """A seeded changelog over Zipf-skewed keys: mostly +I, with -U/+U
    update pairs and -D deletes that always retract a live value.
    Returns [(key, value, kind)] of exactly `n_events` rows."""
    r = random.Random(f"changelog-{seed}")
    weights = [1.0 / (k + 1) ** zipf_s for k in range(n_keys)]
    cum = []
    acc = 0.0
    for w in weights:
        acc += w
        cum.append(acc)
    live = {}
    out = []
    import bisect
    while len(out) < n_events:
        k = bisect.bisect_left(cum, r.random() * acc)
        key = f"k{k}"
        vals = live.setdefault(key, [])
        x = r.random()
        # deletes catch up with inserts as a key's live list grows
        p_delete = 0.1 + 0.4 * min(1.0, len(vals) / max_live)
        if not vals or x < 0.6 - p_delete / 2:
            v = r.randrange(1000)
            vals.append(v)
            out.append((key, v, INSERT))
        elif x < 1.0 - p_delete or n_events - len(out) < 2:
            old = vals.pop(r.randrange(len(vals)))
            if n_events - len(out) >= 2:
                new = r.randrange(1000)
                vals.append(new)
                out.append((key, old, UPDATE_BEFORE))
                out.append((key, new, UPDATE_AFTER))
            else:
                out.append((key, old, DELETE))
        else:
            old = vals.pop(r.randrange(len(vals)))
            out.append((key, old, DELETE))
    return out
