"""scripts/gen_checklist.py renders each round's checklist unchanged.

The script replaced one near-identical script per round
(gen_r16_checklist.py, gen_r17_checklist.py).  The digests below are of
what those scripts printed for the synthetic sweep here — six queries,
two with plan rows, one without a timing — so any drift in a round's
notes or in the table format shows up as a digest mismatch.
"""

import hashlib
import importlib.util
import json
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_spec = importlib.util.spec_from_file_location(
    "gen_checklist", os.path.join(ROOT, "scripts", "gen_checklist.py")
)
gen = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(gen)

NAMES = [
    "g03e_simsearch_ivf",
    "a13_stream_ingest_foreachbatch",
    "a31_versioned_compaction",
    "b99_synthetic",
    "e01_stream_tumbling",
    "g02_dedup_near",
]
TIMINGS = {
    "a13_stream_ingest_foreachbatch": 1.234,
    "a31_versioned_compaction": 5.5,
    "e01_stream_tumbling": 0.5,
    "g02_dedup_near": 12.0,
    "g03e_simsearch_ivf": 4.125,
}
PLANS = {
    "a13_stream_ingest_foreachbatch": "shuffles=1, joins=—",
    "g02_dedup_near": "shuffles=4, joins=BHJ, checkpoint",
}
OLD_OUTPUT_SHA256 = {
    16: "d51431ee7ca773ee8c58c3af5b15f78d98460ed5a54eaa831c0b1f5cbeb0529c",
    17: "60db2973efa8edbd6951fb5c209d19c009e9dc19aefc7ca63f8b18f4ad991738",
}


def _rows(text: str) -> dict[str, list[str]]:
    rows = [line.strip("|").split(" | ") for line in text.splitlines()[2:]]
    return {r[0].strip(" `"): [c.strip() for c in r[1:]] for r in rows}


@pytest.mark.parametrize("round_", [16, 17])
def test_matches_the_per_round_script(round_):
    out = gen.render(round_, TIMINGS, NAMES, PLANS)
    assert hashlib.sha256(out.encode()).hexdigest() == OLD_OUTPUT_SHA256[round_]
    rows = _rows(out)
    assert list(rows) == sorted(NAMES)
    assert rows["b99_synthetic"] == ["—", "executes-internally", gen.FAMILY_DEFAULTS["b"]]
    assert rows["g03e_simsearch_ivf"][0] == "4.12"


def test_round_notes_pick_the_decision():
    r16 = _rows(gen.render(16, TIMINGS, NAMES, PLANS))
    r17 = _rows(gen.render(17, TIMINGS, NAMES, PLANS))
    # family default in r16, changed in r17
    assert r16["e01_stream_tumbling"][2] == gen.FAMILY_DEFAULTS["e"]
    assert r17["e01_stream_tumbling"][2].startswith("CHANGED S7")
    # an r16 override shadowed by an r17 change
    assert r16["g03e_simsearch_ivf"][2].startswith("left alone: IVF")
    assert r17["g03e_simsearch_ivf"][2].startswith("CHANGED S9")
    # an override carried unchanged, one restated
    assert r16["a13_stream_ingest_foreachbatch"] == r17["a13_stream_ingest_foreachbatch"]
    assert r17["a31_versioned_compaction"][2].startswith("re-examined r17")


@pytest.mark.parametrize("round_", [16, 17])
def test_family_without_a_default_renders(round_):
    rows = _rows(gen.render(round_, {}, ["h01_new_family"], {}))
    assert rows["h01_new_family"] == ["—", "executes-internally", gen.NO_DECISION]


def test_cli_renders_every_registered_query(tmp_path, capsys):
    from data_lake_staging_engine_spark.registry import registry

    sweep = tmp_path / "sweep.json"
    sweep.write_text(json.dumps({"parsed": {"timings": TIMINGS}}))
    gen.main(["--round", "17", str(sweep)])
    lines = capsys.readouterr().out.splitlines()
    assert lines[0].startswith("| query |")
    assert len(lines) == len(registry()) + 2
