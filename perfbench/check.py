"""Correctness checks. None of them derives the expected answer with graft
code: fused and stream compare against the generator's planted facts,
the Stages routes (traced fused runs) against the program's DuckDB oracle
SQL run on the generated corpus. Each check returns a list of mismatch messages (empty = correct)."""
import glob
import json
import os

import duckdb
import pandas as pd


def _lines(path):
    if not os.path.exists(path):  # the runner failed before writing it
        return []
    with open(path) as f:
        return [line.rstrip("\n") for line in f if line.strip()]


def _expected(input_dir):
    with open(os.path.join(input_dir, "expected.json")) as f:
        return {(c, k): t for c, k, t in json.load(f)}


def _diff(name, got, want):
    if got == want:
        return []
    missing, extra = sorted(want - got), sorted(got - want)
    return [f"{name}: {len(missing)} missing (e.g. {missing[:2]}), "
            f"{len(extra)} unexpected (e.g. {extra[:2]})"]


def _rows(res, want):
    return [f"rep {i}: {r['rows']} rows, expected {want}"
            for i, r in enumerate(res["reps"] + res.get("traced_reps", []))
            if r.get("rows") != want]


def fused(res, input_dir, out_dir):
    exp = _expected(input_dir)
    got = set()
    for line in _lines(os.path.join(out_dir, "fused_triples.tsv")):
        c, t, k = line.split("\t")
        got.add((c, k, int(t)))
    want = {(c, k, t) for (c, k), t in exp.items()}
    return _diff("fused triples (conv, key, minimal turn)", got, want) + _rows(res, len(exp))


def stream(res, input_dir, out_dir):
    want = set(_expected(input_dir))
    batch = {tuple(x.split("\t")) for x in _lines(os.path.join(out_dir, "stream_batch.tsv"))}
    streamed = {tuple(x.split("\t")) for x in _lines(os.path.join(out_dir, "stream_keys.tsv"))}
    return (_diff("streamed keys vs batch KgPipeline.triples", streamed, batch) +
            _diff("batch keys vs planted facts", batch, want) + _rows(res, len(want)))


# materialized stage -> the SparkEntry.queries entry whose oracle it must equal
STAGE_ORACLE = {"mentions": "kg_mentions", "triples": "kg_triples",
                "crf_mentions": "kg_crf_mentions", "scored": "kg_scored",
                "dup_pairs": "dd_minhash"}


def materialize(rep, input_dir, out_dir, work_dir):
    """The Stages routes measured in a traced fused run (one rep)."""
    errs = []
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{os.path.join(input_dir, 'documents.parquet')}')")
    root = os.path.join(work_dir, "root-check")
    for stage, query in STAGE_ORACLE.items():
        files = glob.glob(os.path.join(root, stage, "*.parquet"))
        if not files:
            errs.append(f"{stage}: stage output missing")
            continue
        ora = con.sql(oracle[query]).df()
        got = con.sql(f"SELECT * FROM read_parquet('{root}/{stage}/*.parquet')").df()
        cols = sorted(ora.columns)
        if not set(cols) <= set(got.columns):
            errs.append(f"{stage}: columns {sorted(got.columns)} lack oracle's {cols}")
            continue
        ora = ora[cols].sort_values(cols).reset_index(drop=True)
        got = got[cols].sort_values(cols).reset_index(drop=True)
        if len(ora) != len(got):
            errs.append(f"{stage} vs {query} oracle: {len(got)} rows, oracle {len(ora)}")
            continue
        if list(ora.dtypes) != list(got.dtypes):
            errs.append(f"{stage} vs {query} oracle: dtypes {list(got.dtypes)} != {list(ora.dtypes)}")
            continue
        try:
            pd.testing.assert_frame_equal(ora, got, check_exact=False, rtol=1e-9)
        except AssertionError as e:
            errs.append(f"{stage} vs {query} oracle: {str(e).splitlines()[-1]}")
    if not rep["resume_reports"] or rep["resume_skipped"] != rep["resume_reports"]:
        errs.append(f"resume re-ran {rep['resume_reports'] - rep['resume_skipped']} "
                    f"of {rep['resume_reports']} stages")
    return errs
