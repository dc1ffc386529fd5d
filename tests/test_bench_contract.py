"""The bench harness must agree with the driver contract BEFORE the
driver runs it: every headline name resolves to a declared-or-extra
query, and the stdout line stays within the driver's bounded tail
capture (BENCH_r02's over-long line came back unparseable)."""

from __future__ import annotations

import json


def test_headline_names_resolve():
    import bench

    import __spark_entry__ as entrymod

    available = set(entrymod.queries()) | set(entrymod.extra_queries())
    missing = [n for n in bench.HEADLINE if n not in available]
    assert not missing, f"bench.HEADLINE references unknown queries: {missing}"
    # rename map only points at headline entries with real r1 rows;
    # value None = "benched without an r1 row by design" (r8:
    # text_stats outgrew its r1 slot; text_stats_r1 carries the
    # same-work comparison)
    for new, old in bench.R1_NAME.items():
        assert new in bench.HEADLINE
        assert old is None or old in bench.R1_TIMES


def test_stdout_line_fits_tail_capture():
    import bench

    # worst-case serialization: every query at a 4-digit seconds value,
    # with the env-evidence fields the real line carries (load1 pair +
    # the r9 contamination stamp)
    extras = {"load1": [99.99, 99.99], "contaminated": False}
    line = json.dumps(
        {
            "metric": "headline_queries_total_wall_sec",
            "value": 9999.999,
            "unit": "sec",
            "queries": {n: 99.999 for n in bench.HEADLINE},
            "sf": 0.1,
            "cpus": 32,
            **extras,
        },
        separators=(",", ":"),
    )
    # bench.py slims the stdout line to the 40 slowest queries whenever
    # the full per-query dict would overflow the driver's ~2000-char
    # tail capture — mirror that logic here and assert the SLIMMED
    # worst case (what actually prints) stays clear of the buffer.
    if len(line) >= 1800:
        slim = dict(list({n: 99.999 for n in bench.HEADLINE}.items())[:40])
        line = json.dumps(
            {
                "metric": "headline_queries_total_wall_sec",
                "value": 9999.999,
                "unit": "sec",
                "queries": slim,
                "sf": 0.1,
                "cpus": 32,
                **extras,
            },
            separators=(",", ":"),
        )
    assert len(line) < 1800, len(line)


def test_declared_window_exactly_fifty():
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    assert len(qs) == 50
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    # extras never shadow declared names
    assert not (set(entrymod.extra_queries()) & set(qs))


def test_driver_window_invariants():
    """The window's structural contract: ``WINDOW`` is exactly 50
    distinct registered queries, every one has an oracle with the SAME
    key, the window and the extras are disjoint, every extra oracle's
    key is a real extra query, and every hash-oracled query in the
    repo is either in the window or has had a driver row in some past
    round (zero rotation debt)."""
    import glob
    import json
    import os

    import __spark_entry__ as entrymod

    q, o = entrymod.queries(), entrymod.oracle_sql()
    xq, xo = entrymod.extra_queries(), entrymod.extra_oracle_sql()
    assert len(set(entrymod.WINDOW)) == len(entrymod.WINDOW) == 50
    assert list(q) == list(entrymod.WINDOW)
    assert len(q) == 50
    assert set(o) == set(q)
    assert not (set(q) & set(xq))
    assert set(xo) <= set(xq)

    seen = set()
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for f in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        d = json.load(open(f))
        seen.update(d if isinstance(d, list) else d.keys())
    if seen:  # absent in a bare checkout; the invariant needs history
        debt = set(xo) - seen - set(q)
        assert not debt, f"hash-oracled extras with no driver row: {sorted(debt)}"
