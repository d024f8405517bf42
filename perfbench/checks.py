"""Output checks, computed with DuckDB straight from the written parquet so
they share no code with the engine under test. Each check returns a list
of failure messages; an empty list means the output is correct."""

from __future__ import annotations

import glob
import hashlib
import os
import re

import gen

# TextExactDeduplicator's key: md5 of the trimmed, whitespace-collapsed,
# lowercased text. The corpora only carry ' ', '\t' and '\n' whitespace, on
# which DuckDB's RE2 and Spark's Java regex agree.
NORM_SQL = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"


def _files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def _ids(con, path: str) -> list[int]:
    files = _files(path)
    if not files:
        return []
    return [r[0] for r in con.execute("SELECT doc_id FROM read_parquet(?)", [files]).fetchall()]


def partition_check(con, input_dir: str, passed_dir: str, rejected_dir: str) -> tuple[list[str], dict]:
    """passed ∪ rejected == input ids, with no id on both sides. Returns
    (failures, {passed, rejected, rejected per operator})."""
    fails = []
    inp = _ids(con, input_dir)
    passed = _ids(con, passed_dir)
    rej_files = _files(rejected_dir)
    rej_rows = (
        con.execute(
            "SELECT doc_id, operator FROM read_parquet(?, hive_partitioning = true)", [rej_files]
        ).fetchall()
        if rej_files
        else []
    )
    rejected = [r[0] for r in rej_rows]
    by_op: dict[str, int] = {}
    for _id, op in rej_rows:
        by_op[op] = by_op.get(op, 0) + 1
    sp, sr, si = set(passed), set(rejected), set(inp)
    if len(sp) != len(passed) or len(sr) != len(rejected):
        fails.append(f"an id is written twice to one side ({len(passed)} passed rows, {len(rejected)} rejected rows)")
    if sp & sr:
        fails.append(f"{len(sp & sr)} ids are both passed and rejected")
    if sp | sr != si:
        fails.append(f"passed ∪ rejected != input ({len(sp | sr)} vs {len(si)} ids)")
    return fails, {"passed": len(passed), "rejected": len(rejected), "by_operator": by_op, "passed_ids": passed}


def funnel_check(result, counts: dict) -> list[str]:
    """PipelineResult's funnel agrees with the sink row counts."""
    fails = []
    if result.output_records != counts["passed"]:
        fails.append(f"output_records {result.output_records} != passed sink rows {counts['passed']}")
    if result.input_records != counts["passed"] + counts["rejected"]:
        fails.append(f"input_records {result.input_records} != sink rows {counts['passed'] + counts['rejected']}")
    for m in result.operators:
        got = counts["by_operator"].get(m.operator, 0)
        if m.input_records - m.output_records != got:
            fails.append(f"{m.operator}: funnel rejects {m.input_records - m.output_records}, sink holds {got}")
    return fails


def passed_hash(ids: list[int]) -> str:
    return hashlib.sha256(",".join(map(str, sorted(ids))).encode()).hexdigest()[:16]


def code_digest(repo: str) -> str:
    """Short digest of the package sources and the shipped configs: a
    recorded passed-id hash is only compared against runs of the same
    code."""
    h = hashlib.sha256()
    for pattern in ("mega_data_factory_spark/**/*.py", "configs/*.yaml"):
        for path in sorted(glob.glob(os.path.join(repo, pattern), recursive=True)):
            h.update(os.path.relpath(path, repo).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:12]


def _word_score_sql(col: str, weights: dict[str, float]) -> str:
    """DuckDB spelling of the engine's word score: 0.8 * max matched weight
    + min(sum of matched weights / 3, 0.2), whole-word and
    case-insensitive, summed in the weights' order."""
    hits = [
        f"(CASE WHEN regexp_matches(lower({col}), '\\b{re.escape(w)}\\b') THEN {float(wt)!r} ELSE 0.0 END)"
        for w, wt in weights.items()
    ]
    mx = f"greatest({', '.join(hits)})"
    sm = " + ".join(hits)
    return f"(CASE WHEN {mx} > 0 THEN 0.8 * {mx} + least(({sm}) / 3.0, 0.2) ELSE 0.0 END)"


def stream_check(con, input_dir: str, passed_dir: str, store_dir: str) -> list[str]:
    """No content key admitted twice across triggers; the admitted key set
    is exactly the distinct keys of the rows the length and word-score
    filters keep; the compacted store holds one row per admitted key."""
    fails = []
    passed_files = _files(passed_dir)
    keys = [r[0] for r in con.execute(f"SELECT md5({NORM_SQL}) FROM read_parquet(?)", [passed_files]).fetchall()]
    if len(set(keys)) != len(keys):
        fails.append(f"{len(keys) - len(set(keys))} content keys admitted more than once")
    expected = {
        r[0]
        for r in con.execute(
            f"""SELECT DISTINCT md5({NORM_SQL}) FROM read_parquet(?)
                WHERE coalesce(length(text), 0) BETWEEN {gen.STREAM_MIN_LEN} AND {gen.STREAM_MAX_LEN}
                  AND {_word_score_sql('text', gen.STREAM_WEIGHTS)} < {gen.STREAM_THRESHOLD}""",
            [_files(input_dir)],
        ).fetchall()
    }
    if set(keys) != expected:
        fails.append(f"admitted keys differ from the filtered distinct keys ({len(set(keys))} vs {len(expected)})")
    store_keys = [r[0] for r in con.execute("SELECT content_key FROM read_parquet(?)", [_files(store_dir)]).fetchall()]
    if len(store_keys) != len(set(keys)):
        fails.append(f"compacted store has {len(store_keys)} rows for {len(set(keys))} admitted keys")
    if set(store_keys) != set(keys):
        fails.append("compacted store keys differ from the admitted keys")
    return fails
