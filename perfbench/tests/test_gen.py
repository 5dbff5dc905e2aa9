import filecmp
import json
import os

import gen


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a = gen.ensure_inputs(3, str(tmp_path / "a"))
    b = gen.ensure_inputs(3, str(tmp_path / "b"))
    c = gen.ensure_inputs(4, str(tmp_path / "c"))
    assert a == b
    da, db, dc = (gen.input_dir(str(tmp_path / d), s)
                  for d, s in (("a", 3), ("b", 3), ("c", 4)))
    for rel in a["bytes"]:
        assert filecmp.cmp(os.path.join(da, rel), os.path.join(db, rel),
                           shallow=False), rel
    assert not filecmp.cmp(os.path.join(da, "etl", "rules.json"),
                           os.path.join(dc, "etl", "rules.json"),
                           shallow=False)
    assert a["rows"]["lineitem"] == c["rows"]["lineitem"]  # sizes fixed


def test_rules_use_the_primary_schema(tmp_path):
    for seed in range(6):
        info = gen.ensure_inputs(seed, str(tmp_path))
        etl = os.path.join(gen.input_dir(str(tmp_path), seed), "etl")
        with open(os.path.join(etl, "rules.json")) as fh:
            rules = json.load(fh)
        with open(os.path.join(etl, "lineitem_main.csv")) as fh:
            header = [c.strip('"') for c in fh.readline().strip().split(",")]
        # fixed shape: the export's cost grows with the rule count
        assert len(rules) == 1 + gen.N_DIRECT + len(gen.MAPPINGS) \
            + gen.N_CONDITIONAL == 16
        lookups = [r for r in rules if r["type"] == "Lookup"]
        assert sorted(r["map_name"] for r in lookups) == \
            sorted(m[0] for m in gen.MAPPINGS)
        for r in rules:
            if r["type"] == "Direct Map":
                assert r["source"] in header
            elif r["type"] == "Lookup":
                assert r["in_col"] in header
                assert os.path.exists(
                    os.path.join(etl, f"{r['map_name']}.csv"))
            else:
                cols = [t.split("`")[1] for t in
                        r["expression"].split("(")[1:]]
                assert set(cols) <= set(header)
        assert info["rows"]["lineitem_main"] == gen.ETL_ROWS
