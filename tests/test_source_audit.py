"""Source-tree scale audits (r9): the invariants the engine's 100 TB
story rests on, enforced as tests instead of round-time grep.

- NO row-at-a-time Python UDFs anywhere (F.udf / @udf / pandas_udf):
  Python in the hot path is Arrow-batched mapInPandas/applyInPandas
  only.
- `.collect()` in engine code only at PLANNING-time sites: the 64x64
  gram-matrix fit (linalg) and the schema-inference sample (extjson),
  plus the file-store job commit (writers), which gathers one commit
  message per task, never rows.  Everything else stays distributed.
- every `crossJoin` is a broadcast 1-row scalar frame (or the $facet
  1x1xp...x1 frame chain) - never a real cartesian.
"""

from __future__ import annotations

import pathlib
import re

SRC = pathlib.Path(__file__).resolve().parent.parent / "mongo_hadoop_spark"


def _source_files():
    return sorted(SRC.rglob("*.py"))


def test_no_row_at_a_time_python_udfs():
    bad = []
    pat = re.compile(r"F\.udf\(|@udf\b|pandas_udf\(|@F\.udf")
    for p in _source_files():
        for i, line in enumerate(p.read_text().splitlines(), 1):
            if pat.search(line):
                bad.append(f"{p.name}:{i}: {line.strip()[:80]}")
    assert not bad, bad


def test_collect_only_at_planning_sites():
    # file -> max allowed .collect() call sites (planning-time: linalg
    # fits a 64x64 gram matrix, extjson samples docs for schema inference;
    # job commit: writers gathers the tasks' commit messages, one per
    # partition, as Spark's own data source write does)
    allowed = {"linalg.py": 2, "extjson.py": 1, "writers.py": 1}
    bad = []
    for p in _source_files():
        n = len(re.findall(r"\.collect\(\)", p.read_text()))
        if n > allowed.get(p.name, 0):
            bad.append(f"{p.name}: {n} .collect() sites "
                       f"(allowed {allowed.get(p.name, 0)})")
    assert not bad, bad


def test_cross_joins_are_broadcast_scalars():
    # the one non-broadcast site is aggpipe's $facet chain of 1-row
    # frames (structurally 1x1x...x1)
    allowed_bare = {"aggpipe.py": 1}
    bad = []
    for p in _source_files():
        for i, line in enumerate(p.read_text().splitlines(), 1):
            if ".crossJoin(" not in line or line.strip().startswith("#"):
                continue
            if "broadcast" in line:
                continue
            if allowed_bare.get(p.name, 0) > 0:
                allowed_bare[p.name] -= 1
                continue
            bad.append(f"{p.name}:{i}: {line.strip()[:80]}")
    assert not bad, bad


def test_no_topandas_in_engine():
    # oracle.py IS the verification harness (the driver-compare replica
    # materializes both sides by design); everything else stays lazy
    bad = [p.name for p in _source_files()
           if ".toPandas()" in p.read_text() and p.name != "oracle.py"]
    assert not bad, bad
