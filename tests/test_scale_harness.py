"""scripts/scale.py: `gen` replicates the fixture N times (1x is the
identity), `run` prints one JSON line per registry query with its wall
time, rows, Spark counts and plan shape."""

from __future__ import annotations

import importlib.util
import json
import os

SF = "/root/testdata/sf0.001"
KEYS = {"name", "wall_s", "spread_s", "rows", "jobs", "stages", "tasks",
        "shuffle_bytes", "plan"}


def _scale():
    path = os.path.join(os.path.dirname(__file__), "..", "scripts",
                        "scale.py")
    spec = importlib.util.spec_from_file_location("scale", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_gen_and_run(spark, tmp_path, capsys):
    from filodb_spark.driver_queries import all_queries
    scale = _scale()
    lineitems = spark.read.parquet(f"{SF}/lineitem.parquet").count()

    one = str(tmp_path / "x1")
    assert scale.gen(spark, one, 1, SF)["lineitem"] == lineitems
    assert set(os.listdir(SF)) <= set(os.listdir(one))

    names = ["tpch_q1", "pq_sum_rate"]
    scale.run(spark, one, names)
    records = [json.loads(line)
               for line in capsys.readouterr().out.splitlines()]
    assert [r["name"] for r in records] == names
    queries, _ = all_queries()
    for rec in records:
        assert KEYS <= rec.keys(), rec
        assert rec["jobs"] >= 1
        # 1x replication is the identity
        assert rec["rows"] == queries[rec["name"]](spark, SF).count()
        assert os.path.isfile(os.path.join(one, "plans",
                                           f"{rec['name']}.txt"))

    two = str(tmp_path / "x2")
    assert scale.gen(spark, two, 2, SF)["lineitem"] == 2 * lineitems
