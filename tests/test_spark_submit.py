"""North-rule packaging check: the pipeline ships via
`spark-submit --py-files document_ai_spark.zip scripts/run_extract.py`
and runs end-to-end (generate -> checkpointed extract -> range layout)."""
from __future__ import annotations

import os
import shutil
import subprocess
import zipfile
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"


@pytest.mark.skipif(not Path(SPARK_SUBMIT).exists(),
                    reason="spark-submit not on this host")
def test_spark_submit_master_reaches_get_spark(tmp_path):
    """get_spark() without a master leaves it to spark-submit's
    --master (SPARK_GRAFT_CPUS unset)."""
    script = tmp_path / "master_probe.py"
    script.write_text("from document_ai_spark.session import get_spark\n"
                      "spark = get_spark('master-probe')\n"
                      "print('MASTER', spark.sparkContext.master)\n")
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(REPO), env.get("PYTHONPATH")) if p)
    proc = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[2]", str(script)],
        capture_output=True, text=True, timeout=300, env=env)
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "MASTER local[2]" in proc.stdout


@pytest.mark.skipif(not Path(SPARK_SUBMIT).exists(),
                    reason="spark-submit not on this host")
def test_spark_submit_py_files_end_to_end(tmp_path):
    zip_path = tmp_path / "document_ai_spark.zip"
    with zipfile.ZipFile(zip_path, "w") as z:
        for f in sorted((REPO / "document_ai_spark").rglob("*.py")):
            z.write(f, f.relative_to(REPO))

    out = tmp_path / "out"
    proc = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[4]",
         "--py-files", str(zip_path),
         str(REPO / "scripts" / "run_extract.py"),
         "--generate", "300",
         "--input", str(tmp_path / "corpus"),
         "--output", str(out),
         "--buckets", "2", "--range-layout"],
        capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "300 documents extracted" in proc.stdout
    assert (out / "data").exists()
    assert (out / "by_doc_id").exists()


@pytest.mark.skipif(not Path(SPARK_SUBMIT).exists(),
                    reason="spark-submit not on this host")
def test_spark_submit_run_curate_end_to_end(tmp_path):
    """Curation CLI ships the same way: quality gates -> persisted-index
    dedup -> checkpointed survivors, and a re-submit resumes to the same
    state without rework (idempotent batch commits)."""
    zip_path = tmp_path / "document_ai_spark.zip"
    with zipfile.ZipFile(zip_path, "w") as z:
        for f in sorted((REPO / "document_ai_spark").rglob("*.py")):
            z.write(f, f.relative_to(REPO))

    out = tmp_path / "curate_out"
    cmd = [SPARK_SUBMIT, "--master", "local[4]",
           "--py-files", str(zip_path),
           str(REPO / "scripts" / "run_curate.py"),
           "--input", "/root/testdata/sf0.001/documents.parquet",
           "--output", str(out), "--buckets", "2", "--run-id", "t1"]
    p1 = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    assert p1.returncode == 0, p1.stderr[-2000:]
    assert "curated 500 ->" in p1.stdout
    n1 = p1.stdout.split("curated 500 -> ")[1].split()[0]
    # Re-submit: resumes (all buckets committed) to identical output.
    p2 = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    assert p2.returncode == 0, p2.stderr[-2000:]
    assert f"curated 500 -> {n1} docs" in p2.stdout
    # Lineage rows carry the observe() cap metrics.
    import json
    mans = sorted((out / "_manifests").glob("*.json"))
    assert len(mans) == 2
    for m in mans:
        assert "lsh_max_bucket" in json.loads(
            json.load(open(m))["metrics"])


@pytest.mark.skipif(not Path(SPARK_SUBMIT).exists(),
                    reason="spark-submit not on this host")
def test_spark_submit_run_curate_line_dedup(tmp_path):
    """--line-dedup strips the corpus-wide boilerplate line everywhere
    but its canonical doc, persists the hot-line table once under
    <output>/_hot_lines, and the removal count rides the audit output."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    boiler = "subscribe to our newsletter today"
    body = ("the alpha{i} and beta{i} of gamma{i} in delta{i} with "
            "epsilon{i} for zeta{i} the eta{i} and theta{i} of iota{i} "
            "in kappa{i} mail bob{i}@ex{i}.example.com")
    # docs 41/42 share a 16-token run (same LINE differs by {i}, so
    # line-dedup ignores it) -> dup_span_frac 16/38 = 0.42 at w=4;
    # doc 1 keeps the 5-token boiler line whose windows (plus the
    # following shared 'the') are corpus-hot -> frac 6/27 = 0.22
    shared_run = ("mu nu xi omicron pi rho sigma tau upsilon phi chi "
                  "psi omega aleph bet gimel")
    # doc 1 additionally carries an exact WITHIN-doc duplicate of its
    # body line: corpus line-dedup ignores it (one distinct doc), the
    # --intra-line-dedup pass strips it. Scoring below is unaffected
    # because dup-span coverage is computed on the post-strip text.
    docs = pa.table({
        "doc_id": list(range(1, 43)),
        "text": [f"{boiler}\n{body.format(i=1)}\n{body.format(i=1)}"]
                + [f"{boiler}\n{body.format(i=i)}" for i in range(2, 41)]
                + [f"{boiler}\n{body.format(i=i)} {shared_run}"
                   for i in (41, 42)],
        "lang": ["en"] * 42,
        "source": ["web"] * 42,
    })
    inp = tmp_path / "docs.parquet"
    pq.write_table(docs, inp)

    zip_path = tmp_path / "document_ai_spark.zip"
    import zipfile as _zf
    with _zf.ZipFile(zip_path, "w") as z:
        for f in sorted((REPO / "document_ai_spark").rglob("*.py")):
            z.write(f, f.relative_to(REPO))

    out = tmp_path / "out"
    cmd = [SPARK_SUBMIT, "--master", "local[4]",
           "--py-files", str(zip_path),
           str(REPO / "scripts" / "run_curate.py"),
           "--input", str(inp), "--output", str(out),
           "--buckets", "2", "--run-id", "ld1", "--line-dedup", "2",
           "--intra-line-dedup",
           "--scrub-pii", "--dup-span-max", "0.3", "--dup-span-w", "4"]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-2000:]
    assert (out / "_hot_lines" / "_SUCCESS").exists()
    assert (out / "_hot_spans" / "_SUCCESS").exists()

    rows = duckdb.connect().execute(
        f"SELECT doc_id, text, n_boiler_lines_removed, n_email, "
        f"dup_span_frac, n_intra_lines_removed "
        f"FROM '{out}/data/**/*.parquet'").fetchall()
    assert rows, "no survivors"
    keeps = [r for r in rows if boiler in r[1]]
    # only the canonical doc (min doc_id = 1) still carries the line
    assert [(r[0], r[2]) for r in keeps] == [(1, 0)]
    assert all(r[2] == 1 for r in rows if r[0] != 1)
    # --intra-line-dedup stripped doc 1's within-doc duplicate body
    # line (and nothing else anywhere)
    intra = {r[0]: r[5] for r in rows}
    assert intra[1] == 1
    assert all(v == 0 for d, v in intra.items() if d != 1)
    assert [r[1].count("alpha1 ") for r in rows if r[0] == 1] == [1]
    # --scrub-pii redacted the planted address and counted it
    assert all("@" not in r[1] and "<EMAIL>" in r[1] and r[3] == 1
               for r in rows)
    # --dup-span-max dropped BOTH members of the shared-run pair; the
    # canonical doc's partial coverage (retained hot boiler windows)
    # rode through under the threshold
    ids = {r[0] for r in rows}
    assert 41 not in ids and 42 not in ids
    fracs = {r[0]: r[4] for r in rows}
    assert fracs[1] == round(6 / 27, 6)
    assert all(f == 0.0 for d, f in fracs.items() if d != 1)


@pytest.mark.skipif(not Path(SPARK_SUBMIT).exists(),
                    reason="spark-submit not on this host")
def test_spark_submit_run_curate_eval_fuzzy(tmp_path):
    """--eval-ngram 5 + --eval-fuzzy: the exact blocklist at n=5 drops
    the verbatim eval copy but is blind to the every-5th-word
    paraphrase (longest unchanged run = 4 words); the MinHash fuzzy
    pass catches it; clean docs survive both."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    eval_text = ("which planet in the solar system has the most moons "
                 "and how many of them were discovered after the year "
                 "two thousand by ground based telescopes")
    words = eval_text.split()
    paraphrase = " ".join(
        w.upper() + "x" if i % 5 == 0 else w for i, w in enumerate(words))
    body = ("the alpha{i} and beta{i} of gamma{i} in delta{i} with "
            "epsilon{i} for zeta{i} the eta{i} and theta{i} of iota{i}")
    docs = pa.table({
        "doc_id": [1, 2] + list(range(3, 13)),
        "text": [eval_text, paraphrase]
                + [body.format(i=i) for i in range(3, 13)],
        "lang": ["en"] * 12,
        "source": ["web"] * 12,
    })
    inp = tmp_path / "docs.parquet"
    pq.write_table(docs, inp)
    ev = tmp_path / "eval.parquet"
    pq.write_table(pa.table({"doc_id": [100], "text": [eval_text]}), ev)

    zip_path = tmp_path / "document_ai_spark.zip"
    with zipfile.ZipFile(zip_path, "w") as z:
        for f in sorted((REPO / "document_ai_spark").rglob("*.py")):
            z.write(f, f.relative_to(REPO))

    out = tmp_path / "out"
    cmd = [SPARK_SUBMIT, "--master", "local[4]",
           "--py-files", str(zip_path),
           str(REPO / "scripts" / "run_curate.py"),
           "--input", str(inp), "--output", str(out),
           "--buckets", "2", "--run-id", "ef1",
           "--eval", str(ev), "--eval-ngram", "5",
           "--eval-fuzzy", "0.1",
           "--eval-fuzzy-bands", "8", "--eval-fuzzy-rows", "1"]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-2000:]
    ids = {r[0] for r in duckdb.connect().execute(
        f"SELECT doc_id FROM '{out}/data/**/*.parquet'").fetchall()}
    assert 1 not in ids          # verbatim: exact 5-gram blocklist
    assert 2 not in ids          # paraphrase: only the fuzzy pass
    assert ids == set(range(3, 13))


@pytest.mark.skipif(not Path(SPARK_SUBMIT).exists(),
                    reason="spark-submit not on this host")
def test_spark_submit_run_curate_nb_filter(tmp_path):
    """--nb-ref: docs whose vocabulary matches the reference corpus
    survive the Naive Bayes gate; same-shaped docs built from words the
    reference never saw score negative log-odds and are dropped — even
    though BOTH groups pass the heuristic quality gates (same token
    count and stopword scaffold). The model is trained once and
    persisted under <output>/_nb_model."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    scaffold = "the {0} and {1} of {2} with {3} for {4} in {5} then {6}"
    vocab_a = ["sun", "valley", "river", "meadow", "stone", "light",
               "garden"]
    vocab_b = ["blorp", "zorg", "flurm", "quux", "vrang", "skree",
               "plomp"]

    def rot(v, i):
        return [v[(j + i) % len(v)] for j in range(len(v))]

    ref = pa.table({
        "doc_id": list(range(100, 106)),
        "text": [scaffold.format(*rot(vocab_a, i)) for i in range(6)],
    })
    docs = pa.table({
        "doc_id": list(range(1, 9)),
        "text": [scaffold.format(*rot(vocab_a, i)) for i in range(4)]
                + [scaffold.format(*rot(vocab_b, i)) for i in range(4)],
        "lang": ["en"] * 8,
        "source": ["web"] * 8,
    })
    inp = tmp_path / "docs.parquet"
    pq.write_table(docs, inp)
    refp = tmp_path / "ref.parquet"
    pq.write_table(ref, refp)

    zip_path = tmp_path / "document_ai_spark.zip"
    with zipfile.ZipFile(zip_path, "w") as z:
        for f in sorted((REPO / "document_ai_spark").rglob("*.py")):
            z.write(f, f.relative_to(REPO))

    out = tmp_path / "out"
    cmd = [SPARK_SUBMIT, "--master", "local[4]",
           "--py-files", str(zip_path),
           str(REPO / "scripts" / "run_curate.py"),
           "--input", str(inp), "--output", str(out),
           "--buckets", "2", "--run-id", "nb1",
           "--nb-ref", str(refp), "--nb-min", "0.0",
           "--nb-neg-frac", "1.0"]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-2000:]
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT doc_id, nb_logodds FROM '{out}/data/**/*.parquet' "
        "ORDER BY doc_id").fetchall()
    assert {r[0] for r in rows} == {1, 2, 3, 4}
    assert all(r[1] > 0 for r in rows)
    # The model persisted for resume: both tables committed.
    assert (out / "_nb_model" / "model" / "_SUCCESS").exists()
    assert (out / "_nb_model" / "params" / "_SUCCESS").exists()


@pytest.mark.skipif(not Path(SPARK_SUBMIT).exists(),
                    reason="spark-submit not on this host")
def test_spark_submit_run_curate_split_and_budget(tmp_path):
    """--split labels survivors deterministically; --slice-budget caps
    each slice of the COMMITTED corpus and writes data_budgeted/."""
    zip_path = tmp_path / "document_ai_spark.zip"
    with zipfile.ZipFile(zip_path, "w") as z:
        for f in sorted((REPO / "document_ai_spark").rglob("*.py")):
            z.write(f, f.relative_to(REPO))

    out = tmp_path / "curate_out"
    cmd = [SPARK_SUBMIT, "--master", "local[4]",
           "--py-files", str(zip_path),
           str(REPO / "scripts" / "run_curate.py"),
           "--input", "/root/testdata/sf0.001/documents.parquet",
           "--output", str(out), "--buckets", "2", "--run-id", "t-sb",
           "--split", "train=0.9,val=0.05,test=0.05",
           "--slice-budget", "200"]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-2000:]
    assert "slice budget 200 tokens:" in p.stdout

    import duckdb
    data = duckdb.sql(
        f"SELECT split, COUNT(*) FROM '{out}/data/bucket=*/*.parquet' "
        "GROUP BY 1").fetchall()
    labels = {r[0] for r in data}
    assert labels <= {"train", "val", "test"} and "train" in labels
    # split labels are the pure md5 function of doc_id (seed 0)
    import hashlib
    rows = duckdb.sql(
        f"SELECT doc_id, split FROM '{out}/data/bucket=*/*.parquet'"
    ).fetchall()
    cut1, cut2 = int(0.90 * 2 ** 32), int(0.95 * 2 ** 32)
    for doc_id, split in rows:
        u = int(hashlib.md5(f"0:{doc_id}".encode()).hexdigest()[:8], 16)
        want = "train" if u < cut1 else "val" if u < cut2 else "test"
        assert split == want
    # budgeted output exists, is a subset, and keeps keep_frac audit
    b = duckdb.sql(
        f"SELECT COUNT(*), MIN(keep_frac), MAX(keep_frac) "
        f"FROM '{out}/data_budgeted/*.parquet'").fetchone()
    n_all = duckdb.sql(
        f"SELECT COUNT(*) FROM '{out}/data/bucket=*/*.parquet'"
    ).fetchone()[0]
    assert 0 < b[0] <= n_all
    assert 0 < b[1] <= b[2] <= 1.0


@pytest.mark.skipif(not Path(SPARK_SUBMIT).exists(),
                    reason="spark-submit not on this host")
def test_spark_submit_run_curate_gopher_ppl_dsir(tmp_path):
    """--gopher + --ppl-keep gate with published rule sets (bucket map
    persisted corpus-level); --dsir-top resamples the committed
    survivors into data_dsir/."""
    zip_path = tmp_path / "document_ai_spark.zip"
    with zipfile.ZipFile(zip_path, "w") as z:
        for f in sorted((REPO / "document_ai_spark").rglob("*.py")):
            z.write(f, f.relative_to(REPO))

    out = tmp_path / "curate_out"
    cmd = [SPARK_SUBMIT, "--master", "local[4]",
           "--py-files", str(zip_path),
           str(REPO / "scripts" / "run_curate.py"),
           "--input", "/root/testdata/sf0.001/documents.parquet",
           "--output", str(out), "--buckets", "2", "--run-id", "t-gpd",
           "--gopher", "--gopher-min-words", "20",
           "--gopher-min-stops", "1",
           "--ppl-keep", "head,middle",
           "--dsir-top", "50"]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-2000:]
    assert "dsir top-50: " in p.stdout

    import duckdb
    # corpus-level bucket map persisted once, covers every scored doc
    pb = duckdb.sql(
        f"SELECT DISTINCT ppl_bucket FROM '{out}/_ppl_buckets/*.parquet'"
    ).fetchall()
    assert {r[0] for r in pb} == {"head", "middle", "tail"}
    # survivors carry the audit columns and honor both gates
    rows = duckdb.sql(
        f"SELECT DISTINCT ppl_bucket FROM '{out}/data/bucket=*/*.parquet'"
    ).fetchall()
    assert {r[0] for r in rows} <= {"head", "middle"}
    flags = duckdb.sql(
        f"SELECT MIN(ok_words::INT), MIN(ok_stops::INT) "
        f"FROM '{out}/data/bucket=*/*.parquet'").fetchone()
    assert flags == (1, 1)
    # DSIR output: exactly K rows, a subset of survivors, with weights
    d = duckdb.sql(
        f"SELECT COUNT(*), COUNT(dsir_logw), COUNT(gumbel_key) "
        f"FROM '{out}/data_dsir/*.parquet'").fetchone()
    assert d[0] == 50 and d[1] == 50 and d[2] == 50
    extra = duckdb.sql(
        f"SELECT COUNT(*) FROM '{out}/data_dsir/*.parquet' d "
        f"WHERE d.doc_id NOT IN (SELECT doc_id "
        f"FROM '{out}/data/bucket=*/*.parquet')").fetchone()[0]
    assert extra == 0


@pytest.mark.skipif(not Path(SPARK_SUBMIT).exists(),
                    reason="spark-submit not on this host")
def test_spark_submit_run_curate_c4_and_rep(tmp_path):
    """--c4 cleans line-level boilerplate BEFORE the gates (survivor
    text is the cleaned text); --rep-ngrams drops n-gram repetition
    bombs at the published Gopher thresholds."""
    zip_path = tmp_path / "document_ai_spark.zip"
    with zipfile.ZipFile(zip_path, "w") as z:
        for f in sorted((REPO / "document_ai_spark").rglob("*.py")):
            z.write(f, f.relative_to(REPO))

    # Planted corpus: C4-shaped pages (the synthetic sf corpus has no
    # terminal punctuation, so --c4 is exercised on its real input
    # shape). 30 good pages, one cookie-boilerplate page, one
    # repetition bomb, one brace page.
    import duckdb
    good = ("This is a good long sentence that ends well and keeps "
            "the stopword rate in a natural band for the gate.\n"
            "Another full sentence with plenty of words is here and "
            "it also reads like ordinary prose text.\n"
            "And a third complete sentence closes the page with more "
            "of the usual words to be sure.")
    src = tmp_path / "c4docs.parquet"
    con = duckdb.connect()
    con.execute(f"""
      COPY (
        SELECT i AS doc_id,
               CASE
                 WHEN i = 97 THEN '{good}' || chr(10) ||
                      'This site uses cookies to improve your experience.'
                 WHEN i = 98 THEN repeat('the cat sat on the mat and ', 40)
                      || 'the end is here now.'
                 WHEN i = 99 THEN '{good}' || ' {{ code braces }}'
                 ELSE '{good}' || ' Extra words vary with seed '
                      || CAST(i AS VARCHAR) || ' to dodge the near-dup '
                      || 'index while staying natural prose here with '
                      || 'more filler number ' || CAST(i * 7 AS VARCHAR)
                      || ' still ending properly.'
               END AS text,
               'en' AS lang, 'web' AS source
        FROM range(100) t(i)
      ) TO '{src}' (FORMAT PARQUET)""")

    out = tmp_path / "curate_out"
    cmd = [SPARK_SUBMIT, "--master", "local[4]",
           "--py-files", str(zip_path),
           str(REPO / "scripts" / "run_curate.py"),
           "--input", str(src),
           "--output", str(out), "--buckets", "2", "--run-id", "t-c4",
           "--c4", "--rep-ngrams", "--jaccard-min", "0.95"]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-2000:]

    rows = duckdb.sql(
        f"SELECT doc_id, text FROM '{out}/data/bucket=*/*.parquet'"
    ).fetchall()
    ids = {r[0] for r in rows}
    assert 98 not in ids            # repetition bomb: rep_keep false
    assert 99 not in ids            # brace page: c4_keep false
    if 97 in ids:                   # cookie LINE stripped by --c4
        t97 = dict(rows)[97]
        assert "cookies" not in t97
    # survivor text is the CLEANED text: no page keeps a brace and the
    # audit counter column rides the output
    n_c4 = duckdb.sql(
        f"SELECT MAX(n_c4_lines_removed) "
        f"FROM '{out}/data/bucket=*/*.parquet'").fetchone()[0]
    assert n_c4 >= 1
    assert len(ids) >= 20


def test_spark_submit_run_curate_rw_fineweb(tmp_path):
    """--rw-lines strips RefinedWeb-dropped lines before the gates
    (audit column n_rw_lines_removed rides the output); --fineweb adds
    the FineWeb ratio gate with its ratio columns on the audit rows."""
    zip_path = tmp_path / "document_ai_spark.zip"
    with zipfile.ZipFile(zip_path, "w") as z:
        for f in sorted((REPO / "document_ai_spark").rglob("*.py")):
            z.write(f, f.relative_to(REPO))

    import duckdb
    good = ("This is a good long sentence that ends well and keeps "
            "the stopword rate in a natural band for the gate.\n"
            "Another full sentence with plenty of words is here and "
            "it also reads like ordinary prose text.\n"
            "And a third complete sentence closes the page with more "
            "of the usual words to be sure.")
    src = tmp_path / "rwdocs.parquet"
    con = duckdb.connect()
    con.execute(f"""
      COPY (
        SELECT i AS doc_id,
               CASE
                 WHEN i = 97 THEN '{good}' || chr(10) || 'SHOUT AB.'
                 WHEN i = 98 THEN repeat('no punct line' || chr(10), 9)
                      || 'no punct line'
                 ELSE '{good}' || ' Extra words vary with seed '
                      || CAST(i AS VARCHAR) || ' to dodge the near-dup '
                      || 'index while staying natural prose here with '
                      || 'more filler number ' || CAST(i * 7 AS VARCHAR)
                      || ' still ending properly.'
               END AS text,
               'en' AS lang, 'web' AS source
        FROM range(100) t(i)
      ) TO '{src}' (FORMAT PARQUET)""")

    out = tmp_path / "curate_out"
    cmd = [SPARK_SUBMIT, "--master", "local[4]",
           "--py-files", str(zip_path),
           str(REPO / "scripts" / "run_curate.py"),
           "--input", str(src),
           "--output", str(out), "--buckets", "2", "--run-id", "t-rw",
           "--rw-lines", "--fineweb", "--jaccard-min", "0.95"]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-2000:]

    rows = duckdb.sql(
        f"SELECT doc_id, text, n_rw_lines_removed, line_punct_ratio "
        f"FROM '{out}/data/bucket=*/*.parquet'").fetchall()
    ids = {r[0] for r in rows}
    assert 98 not in ids                      # punctless page: fineweb
    by_id = {r[0]: r for r in rows}
    if 97 in ids:
        assert "SHOUT" not in by_id[97][1]    # line-wise correction
        assert by_id[97][2] == 1              # audit counter
    # every surviving row carries the FineWeb audit ratio
    assert all(r[3] >= 0.12 for r in rows)


def test_spark_submit_run_curate_span_strip_and_soft_dedup(tmp_path):
    """--strip-dup-spans removes cross-doc duplicated spans before the
    gates (keeper doc intact, audit counter rides the output);
    --soft-dedup writes 1/|family| weights for the committed corpus."""
    zip_path = tmp_path / "document_ai_spark.zip"
    with zipfile.ZipFile(zip_path, "w") as z:
        for f in sorted((REPO / "document_ai_spark").rglob("*.py")):
            z.write(f, f.relative_to(REPO))

    import duckdb
    base = ("the quick brown fox jumps over the lazy dog while data "
            "flows through the spark pipeline in a natural prose band "
            "with enough ordinary words to pass every quality gate")
    boiler = ("all rights reserved contact the webmaster for further "
              "information about this website")
    src = tmp_path / "spandocs.parquet"
    con = duckdb.connect()
    con.execute(f"""
      COPY (
        SELECT i AS doc_id,
               CASE
                 WHEN i = 97 THEN '{base} {boiler}'
                 WHEN i = 98 THEN 'completely different text here {boiler}'
                      || ' and plenty of other normal words follow along'
                 ELSE '{base} variant ' || CAST(i AS VARCHAR)
                      || ' filler ' || CAST(i * 13 AS VARCHAR)
               END AS text,
               'en' AS lang, 'web' AS source
        FROM range(100) t(i)
      ) TO '{src}' (FORMAT PARQUET)""")

    out = tmp_path / "curate_out"
    cmd = [SPARK_SUBMIT, "--master", "local[4]",
           "--py-files", str(zip_path),
           str(REPO / "scripts" / "run_curate.py"),
           "--input", str(src),
           "--output", str(out), "--buckets", "2", "--run-id", "t-span",
           "--strip-dup-spans", "--dup-span-w", "8",
           "--soft-dedup", "--jaccard-min", "1.01",
           "--quality-min", "0.2"]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-2000:]

    rows = duckdb.sql(
        f"SELECT doc_id, text, n_span_tokens_removed "
        f"FROM '{out}/data/bucket=*/*.parquet'").fetchall()
    by_id = {r[0]: r for r in rows}
    # doc 97 keeps the boilerplate span (keeper: min doc_id holding it);
    # doc 98 loses those tokens and the counter says so
    if 97 in by_id and 98 in by_id:
        assert "webmaster" in by_id[97][1]
        assert "webmaster" not in by_id[98][1]
        assert by_id[98][2] > 0
    # soft-dedup artifact exists, weights bounded in (0, 1]
    w = duckdb.sql(f"SELECT min(weight), max(weight), count(*) "
                   f"FROM '{out}/doc_weights/*.parquet'").fetchone()
    assert 0 < w[0] <= w[1] <= 1.0
    assert w[2] == len(rows)


@pytest.mark.skipif(not Path(SPARK_SUBMIT).exists(),
                    reason="spark-submit not on this host")
def test_spark_submit_run_curate_eval_bloom(tmp_path):
    """--eval-bloom: the whole-text Bloom tier drops the VERBATIM eval
    copy only — a one-character edit survives it (exact tier by
    design; the fuzzy pass is the paraphrase tier) — and clean docs
    are untouched. Runs with a deliberately tiny bitmap (--eval-bloom-m
    256) so Bloom false positives are likely and the exact confirm
    join is what keeps the output right."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    eval_text = ("the quick onyx goblin jumps over the lazy dwarf while "
                 "seven wizards brew azure potions behind the old mill")
    near_copy = eval_text.replace("goblin", "goblins")
    body = ("alpha{i} beta{i} gamma{i} delta{i} epsilon{i} zeta{i} "
            "eta{i} theta{i} iota{i} kappa{i}")
    docs = pa.table({
        "doc_id": [1, 2] + list(range(3, 13)),
        "text": [eval_text, near_copy]
                + [body.format(i=i) for i in range(3, 13)],
        "lang": ["en"] * 12,
        "source": ["web"] * 12,
    })
    inp = tmp_path / "docs.parquet"
    pq.write_table(docs, inp)
    ev = tmp_path / "eval.parquet"
    pq.write_table(pa.table({"doc_id": [100], "text": [eval_text]}), ev)

    zip_path = tmp_path / "document_ai_spark.zip"
    with zipfile.ZipFile(zip_path, "w") as z:
        for f in sorted((REPO / "document_ai_spark").rglob("*.py")):
            z.write(f, f.relative_to(REPO))

    out = tmp_path / "out"
    cmd = [SPARK_SUBMIT, "--master", "local[4]",
           "--py-files", str(zip_path),
           str(REPO / "scripts" / "run_curate.py"),
           "--input", str(inp), "--output", str(out),
           "--buckets", "2", "--run-id", "eb1",
           "--eval", str(ev), "--eval-ngram", "30",
           "--eval-bloom", "--eval-bloom-m", "256"]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-2000:]
    ids = {r[0] for r in duckdb.connect().execute(
        f"SELECT doc_id FROM '{out}/data/**/*.parquet'").fetchall()}
    assert 1 not in ids                  # verbatim copy: Bloom tier
    assert 2 in ids                      # one-word edit: exact tier passes
    assert ids == {2} | set(range(3, 13))


@pytest.mark.skipif(not Path(SPARK_SUBMIT).exists(),
                    reason="spark-submit not on this host")
def test_spark_submit_run_curate_diversity_gate(tmp_path):
    """--diversity drops the tiny-alphabet mash (char entropy 1 bit)
    and cycled-vocab spam (ttr < 0.1) that pass every default gate
    (>= 10 tokens, distinct lines, no dominant bigram), keeps natural
    text, and the ttr/entropy columns ride the audit output."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    natural = ("the market and harvest of the village in the river "
               "field for the engine credit season with the farmer "
               "road water crop price")
    # 30 DISTINCT {a,b}-alphabet tokens: every bigram unique, quality
    # len/stop bands pass (stop_score 0.5 -> q = 0.8), char entropy
    # exactly 1 bit < 2.0 -> only the diversity gate sees it.
    mash = " ".join(
        format(i, "05b").replace("0", "a").replace("1", "b")
        for i in range(30))
    other = ("a loan for the storage of grain and the trade in crop "
             "price with a season of harvest on the road to the "
             "village market by the river water")
    docs = pa.table({
        "doc_id": [1, 2, 3],
        "text": [natural, mash, other],
        "lang": ["en"] * 3,
        "source": ["web"] * 3,
    })
    inp = tmp_path / "docs.parquet"
    pq.write_table(docs, inp)

    zip_path = tmp_path / "document_ai_spark.zip"
    import zipfile as _zf
    with _zf.ZipFile(zip_path, "w") as z:
        for f in sorted((REPO / "document_ai_spark").rglob("*.py")):
            z.write(f, f.relative_to(REPO))

    out = tmp_path / "out"
    cmd = [SPARK_SUBMIT, "--master", "local[4]",
           "--py-files", str(zip_path),
           str(REPO / "scripts" / "run_curate.py"),
           "--input", str(inp), "--output", str(out),
           "--buckets", "1", "--run-id", "dv1", "--diversity"]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-2000:]
    rows = duckdb.connect().execute(
        f"SELECT doc_id, ttr, token_entropy, char_entropy "
        f"FROM '{out}/data/**/*.parquet' ORDER BY doc_id").fetchall()
    ids = {r[0] for r in rows}
    assert 2 not in ids, "mash doc survived the char-entropy floor"
    assert {1, 3} <= ids
    for r in rows:
        assert r[3] > 2.0 and r[1] >= 0.1
