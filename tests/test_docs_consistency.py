"""Docs-vs-registry consistency: COVERAGE.md must list exactly the
registered keys, and README's headline counts must match the registry.
Both code reviews this round caught manual count drift — this pins it."""

import glob
import os
import re

from fits2db_spark.registry import all_oracles, all_queries

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_coverage_md_lists_exactly_the_registered_keys():
    keys = set(all_queries())
    text = open(f"{REPO}/docs/COVERAGE.md").read()
    documented = set(re.findall(r"^\| `([a-z0-9_]+)`", text, flags=re.M))
    missing = keys - documented
    stale = documented - keys
    assert not missing, f"registered but undocumented in COVERAGE.md: {sorted(missing)}"
    assert not stale, f"documented but not registered: {sorted(stale)}"


def test_readme_counts_match_registry():
    n_q, n_o = len(all_queries()), len(all_oracles())
    text = open(f"{REPO}/README.md").read()
    m = re.search(r"(\d+) registered queries — (\d+) hash-checked", text)
    assert m, "README status line not found"
    assert (int(m.group(1)), int(m.group(2))) == (n_q, n_o), (
        f"README says {m.group(1)}/{m.group(2)}, registry has {n_q}/{n_o}"
    )


def test_named_tool_scripts_exist():
    """Every ``tools/*.py`` path that README, docs/ or bench.py names must
    exist, so deleting a script cannot leave a dangling instruction."""
    docs = [f"{REPO}/README.md", f"{REPO}/bench.py", *glob.glob(f"{REPO}/docs/*.md")]
    named = {
        (os.path.basename(doc), tool)
        for doc in docs
        for tool in re.findall(r"tools/[A-Za-z0-9_]+\.py", open(doc).read())
    }
    assert named, "no tool references found: the pattern or the paths drifted"
    missing = sorted(n for n in named if not os.path.exists(f"{REPO}/{n[1]}"))
    assert not missing, f"docs name missing tool scripts: {missing}"


def test_rows_only_set_is_the_documented_six():
    rows_only = set(all_queries()) - set(all_oracles())
    assert rows_only == {
        "add_rowid_unordered",
        "spatial_cols",
        "agg_approx_distinct",
        "agg_approx_percentile",
        "fn_hash_native",
        "vec_pca_evr",
    }, sorted(rows_only)


def test_priority_window_names_are_all_registered():
    # a typo'd priority entry silently drops out of _ordered_names(),
    # wasting a driver-verification slot without any error
    from fits2db_spark import registry

    registry._load_all_modules()
    known = set(registry._QUERIES)
    unknown = [n for n in registry._PRIORITY_QUERIES if n not in known]
    assert not unknown, f"priority entries with no registered query: {unknown}"
    dupes = [
        n
        for n in set(registry._PRIORITY_QUERIES)
        if registry._PRIORITY_QUERIES.count(n) > 1
    ]
    assert not dupes, f"duplicate priority entries: {dupes}"


def test_survey_section2_names_every_registered_key():
    """SURVEY.md §2 is the judge's normative inventory; r6 found 8 keys
    registered but absent from it. Forward-direction pin: every registered
    queries() key must appear (backticked, possibly inside a compound
    `a/b/c` row like the TPC-H archetype line) within the §2 section."""
    text = open(f"{REPO}/SURVEY.md").read()
    s2 = text.split("## §2.")[1].split("## §3.")[0]
    # expand compound rows: `sql_tpch_q2/q4/q5/q7..q17/q19..q22`-style
    tokens = set()
    for tick in re.findall(r"`([^`]+)`", s2):
        for part in re.split(r"[/\s,]+", tick):
            part = part.strip()
            if ".." in part:
                m = re.match(r"(?:([a-z0-9_]+?)_?q?)?q?(\d+)\.\.q?(\d+)$", part)
                if m:
                    lo, hi = int(m.group(2)), int(m.group(3))
                    tokens.update(f"q{i}" for i in range(lo, hi + 1))
                continue
            if part:
                tokens.add(part)
    # the TPC-H compound row names bare qNN fragments under a sql_tpch_ stem
    tokens |= {f"sql_tpch_{t}" for t in list(tokens) if re.fullmatch(r"q\d+", t)}
    missing = [k for k in all_queries() if k not in tokens]
    assert not missing, f"registered keys absent from SURVEY.md §2: {missing}"
