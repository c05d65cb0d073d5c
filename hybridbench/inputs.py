"""Seeded inputs, query texts and answer checks for every workload.

Everything here is a pure function of the seed (and the op index), runs
without Spark, and is what the self-tests pin: the same seed gives the
same op sequence and the same expected answers. Expected answers come
from DuckDB over the generated points, independently of the engine.
"""

from __future__ import annotations

import datetime as dt
import math
import random

from otit_swt_spark import windpower as wp

BASE = dt.datetime.fromisoformat(wp.BASE_TIMESTAMP)
CADENCE_S = 10
SIGNALS = list(wp.SIGNALS.items())  # [(label, id prefix), ...]
#: the fleet size of every workload: the KG is ``kg_triples(TURBINES)``
TURBINES = 8

# -- dashboards ----------------------------------------------------------------

#: dashboard window. A refresh costs about 8 s of compile, probe jobs and
#: Spark jobs whatever the window; the synchronized panel's remote time
#: grows with it (about 0.5 s for 1 h), and 20 min keeps it visible
DASHBOARD_WINDOW = dt.timedelta(minutes=20)


def dashboard_params(seed: int, n: int,
                     points: int) -> list[tuple[int, str, str]]:
    """``n`` distinct (turbine, lo, hi) refreshes for ``seed``: a seeded
    turbine and a window start on the 10 s grid, so no text repeats."""
    rng = random.Random(f"dashboard-{seed}")
    span_s = points * CADENCE_S - int(DASHBOARD_WINDOW.total_seconds())
    seen, out = set(), []
    while len(out) < n:
        turbine = rng.randint(1, TURBINES)
        start = rng.randrange(0, span_s // CADENCE_S) * CADENCE_S
        if (turbine, start) in seen:
            continue
        seen.add((turbine, start))
        lo = BASE + dt.timedelta(seconds=start)
        out.append((turbine, lo.isoformat(),
                    (lo + DASHBOARD_WINDOW).isoformat()))
    return out


def panel_single_text(turbine: int, lo: str, hi: str) -> str:
    """Panel 1: one turbine's Production 10-min AVG (single-chain grouped
    pushdown)."""
    return wp.query_10min_avg(lo, hi, f"A{turbine}")


def panel_sync_text(turbine: int, lo: str, hi: str) -> str:
    """Panel 2: the three signals synchronized on ?t, 10-min AVG, for the
    same turbine and window (synchronized grouped pushdown)."""
    chains = "".join(f"""
        ?generator otit:hasTimeseries ?ts_{p} .
        ?ts_{p} rdfs:label "{label}" .
        ?ts_{p} otit:hasDataPoint ?dp_{p} .
        ?dp_{p} otit:hasValue ?val_{p} .
        ?dp_{p} otit:hasTimestamp ?t .""" for label, p in SIGNALS)
    avgs = " ".join(f"(AVG(?val_{p}) AS ?avg_{p})" for _, p in SIGNALS)
    return (wp.PREFIXES + f"""
    SELECT ?wtur_label ?year ?month ?day ?hour ?minute_10 {avgs} WHERE {{"""
            + wp.ASPECT_CHAIN + chains + f"""
        BIND(10 * FLOOR(MINUTES(?t) / 10.0) AS ?minute_10)
        BIND(HOURS(?t) AS ?hour)
        BIND(DAY(?t) AS ?day)
        BIND(MONTH(?t) AS ?month)
        BIND(YEAR(?t) AS ?year)
        FILTER(?wtur_label = "A{turbine}"
               && ?t >= "{lo}"^^xsd:dateTime && ?t <= "{hi}"^^xsd:dateTime)
    }} GROUP BY ?wtur_label ?year ?month ?day ?hour ?minute_10""")


_BUCKET = ("EXTRACT(year FROM timestamp) AS year, "
           "EXTRACT(month FROM timestamp) AS month, "
           "EXTRACT(day FROM timestamp) AS day, "
           "EXTRACT(hour FROM timestamp) AS hour, "
           "10 * FLOOR(EXTRACT(minute FROM timestamp) / 10.0) AS minute_10")


def expected_single(con, turbine: int, lo: str, hi: str) -> dict:
    """{(y, m, d, h, minute_10): avg} for panel 1, from table ``ts``."""
    rows = con.execute(
        f"SELECT {_BUCKET}, AVG(value) FROM ts WHERE id = ? "
        f"AND timestamp >= ?::TIMESTAMP AND timestamp <= ?::TIMESTAMP "
        f"GROUP BY ALL", [f"ep{turbine}", lo, hi]).fetchall()
    return {tuple(int(x) for x in r[:5]): (r[5],) for r in rows}


def expected_sync(con, turbine: int, lo: str, hi: str) -> dict:
    """{bucket: (avg per signal)} for panel 2: the three series joined on
    timestamp, then averaged per 10-minute bucket."""
    ids = [f"{p}{turbine}" for _, p in SIGNALS]
    rows = con.execute(
        f"""SELECT {_BUCKET}, AVG(v0), AVG(v1), AVG(v2) FROM (
              SELECT a.timestamp, a.value v0, b.value v1, c.value v2
              FROM ts a JOIN ts b ON a.timestamp = b.timestamp
                        JOIN ts c ON a.timestamp = c.timestamp
              WHERE a.id = ? AND b.id = ? AND c.id = ?
                AND a.timestamp >= ?::TIMESTAMP
                AND a.timestamp <= ?::TIMESTAMP) j
            GROUP BY ALL""", [*ids, lo, hi]).fetchall()
    return {tuple(int(x) for x in r[:5]): tuple(r[5:]) for r in rows}


def got_buckets(rows, value_cols: list[str]) -> dict:
    """Engine rows -> {bucket: values}, keyed like the expected dicts."""
    return {(int(r["year"]), int(r["month"]), int(r["day"]), int(r["hour"]),
             int(r["minute_10"])): tuple(r[c] for c in value_cols)
            for r in rows}


def same_answer(got: dict, expected: dict, rel: float = 1e-9) -> bool:
    """Same keys, and every value equal within ``rel`` (AVG order may
    differ between engines in the last bits)."""
    if got.keys() != expected.keys():
        return False
    for k, exp in expected.items():
        g = got[k]
        if len(g) != len(exp):
            return False
        for a, b in zip(g, exp):
            if a is None or b is None:
                if a is not b:
                    return False
            elif not math.isclose(float(a), float(b), rel_tol=rel,
                                  abs_tol=1e-9):
                return False
    return True


# -- ingest ----------------------------------------------------------------------

BATCH_POINTS = 60            # one 10-minute fleet batch at 10 s cadence
BATCH_SPAN = dt.timedelta(seconds=BATCH_POINTS * CADENCE_S)
INITIAL_BATCHES = 6          # one hour landed before the first cycle
MOVING_WINDOW = dt.timedelta(hours=1)


def fleet_ids() -> list[str]:
    return [f"{p}{i}" for i in range(1, TURBINES + 1) for _, p in SIGNALS]


def ingest_batch(seed: int, k: int):
    """Batch ``k``: every fleet series x 60 points starting at
    BASE + k * 10 min, values from a (seed, k)-seeded stream."""
    import numpy as np
    import pandas as pd

    ids = fleet_ids()
    rng = np.random.default_rng([seed, k])
    vals = rng.uniform(0, 100, (len(ids), BATCH_POINTS)).round(3)
    start = BASE + k * BATCH_SPAN
    ts = pd.date_range(start, periods=BATCH_POINTS,
                       freq=f"{CADENCE_S}s", tz="UTC")
    return pd.DataFrame({
        "id": [i for i in ids for _ in range(BATCH_POINTS)],
        "timestamp": list(ts) * len(ids),
        "value": vals.reshape(-1),
    })


def moving_read_params(seed: int, k: int) -> tuple[int, str, str]:
    """After batch ``k`` lands: a seeded turbine over the trailing hour."""
    rng = random.Random(f"moving-{seed}-{k}")
    end = BASE + (k + 1) * BATCH_SPAN
    return (rng.randint(1, TURBINES), (end - MOVING_WINDOW).isoformat(),
            end.isoformat())


REPEAT_TEXT = wp.PREFIXES + """
    SELECT (COUNT(?val) AS ?n) WHERE {
        ?ts rdfs:label "Production" .
        ?ts otit:hasDataPoint ?dp .
        ?dp otit:hasValue ?val .
    }"""


def expected_repeat(con) -> int:
    """The running count the repeat read must return: every Production
    point landed so far."""
    return con.execute(
        "SELECT COUNT(*) FROM ts WHERE id LIKE 'ep%'").fetchone()[0]


def expected_rollup(con) -> dict:
    """{id: (count, sum)} the incremental fold must hold."""
    rows = con.execute(
        "SELECT id, COUNT(*), SUM(value) FROM ts GROUP BY id").fetchall()
    return {r[0]: (int(r[1]), float(r[2])) for r in rows}


def same_rollup(got: dict, expected: dict) -> bool:
    if got.keys() != expected.keys():
        return False
    return all(got[k][0] == n and math.isclose(got[k][1], s, rel_tol=1e-12,
                                               abs_tol=1e-6)
               for k, (n, s) in expected.items())


# -- mapper ----------------------------------------------------------------------

MAPPER_ROWS = 100_000        # sensor rows in the expanded block
EX = "http://example.net/hybridbench/"
MAPPER_TEMPLATE_IRI = EX + "Reading"
MAPPER_TEMPLATE = f"""
@prefix ex:<{EX}>.
ex:Reading [xsd:anyURI ?reading, xsd:anyURI ?sensor, ?value, ?second]
  :: {{
    ottr:Triple(?reading, ex:ofSensor, ?sensor) ,
    ottr:Triple(?reading, ex:hasValue, ?value) ,
    ottr:Triple(?reading, ex:atSecond, ?second)
  }} .
"""
MAPPER_PREDICATES = ("ofSensor", "hasValue", "atSecond")


def mapper_block(seed: int, rows: int):
    """The seeded block: ``rows`` readings of 1000 sensors."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng([seed, 1_000_003])
    n = np.arange(rows)
    return pd.DataFrame({
        "Key": [f"k{j}" for j in n],
        "reading": [f"{EX}reading/{j}" for j in n],
        "sensor": [f"{EX}sensor/{s}" for s in rng.integers(0, 1000, rows)],
        "value": rng.uniform(0, 100, rows).round(3),
        "second": (n * CADENCE_S).astype("int64"),
    })


def expected_ntriples(block) -> dict:
    """What the N-Triples of the expanded block must hold: the lines per
    predicate, the distinct subjects and the sum of the value literals."""
    rows = len(block)
    return {"lines": {p: rows for p in MAPPER_PREDICATES},
            "subjects": rows, "value_sum": float(block["value"].sum())}


def read_ntriples(lines) -> dict:
    """The same summary of written N-Triples lines."""
    per_pred: dict[str, int] = {}
    subjects, value_sum = set(), 0.0
    for line in lines:
        s, p, o = line.split(" ", 2)
        pred = p[len(EX) + 1:-1] if p.startswith("<" + EX) else p
        per_pred[pred] = per_pred.get(pred, 0) + 1
        subjects.add(s)
        if pred == "hasValue":
            value_sum += float(o[1:o.index('"', 1)])
    return {"lines": per_pred, "subjects": len(subjects),
            "value_sum": value_sum}


def same_ntriples(got: dict, expected: dict) -> bool:
    return (got["lines"] == expected["lines"]
            and got["subjects"] == expected["subjects"]
            and math.isclose(got["value_sum"], expected["value_sum"],
                             rel_tol=1e-9))
