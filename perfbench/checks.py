"""Output checks, computed from the inputs apart from the program.

Each function takes plain Python rows and returns a list of error
strings; an empty list means the output passed. They import nothing from
the program except where a check names its reference (the single-node
``plans.oracle`` path, passed in by the caller), so a fault in the Spark
plan cannot hide behind the check.
"""
from __future__ import annotations

import math
from collections import Counter, defaultdict
from typing import Dict, Iterable, List, Sequence, Tuple

import numpy as np

# Extracted fields compared against the single-node oracle on a sample.
FIELD_COLS = (
    "dealer_name", "dealer_conf", "dealer_method",
    "model_name", "model_conf", "model_method",
    "horse_power", "hp_conf", "hp_method",
    "asset_cost", "cost_conf", "cost_method",
    "signature_present", "signature_conf",
    "stamp_present", "stamp_conf",
    "overall_confidence",
    "dealer_valid", "dealer_matched_to",
    "model_valid", "model_matched_to",
)

# Slack for comparing a NumPy cosine with the program's threshold test:
# the two sum in different orders, so they may differ in the last bits.
COS_EPS = 1e-9


def _ids_errors(what: str, want: Iterable, got: Iterable) -> List[str]:
    want_c, got_c = Counter(want), Counter(got)
    errs = []
    missing = sorted(set(want_c) - set(got_c))
    extra = sorted(set(got_c) - set(want_c))
    dups = sorted(k for k, n in got_c.items() if n > 1)
    if missing:
        errs.append(f"{what}: {len(missing)} missing, e.g. {missing[:3]}")
    if extra:
        errs.append(f"{what}: {len(extra)} unexpected, e.g. {extra[:3]}")
    if dups:
        errs.append(f"{what}: {len(dups)} duplicated, e.g. {dups[:3]}")
    return errs


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-12)
    return a == b


def expected_layout(doc: Dict) -> List[Tuple[str, str, int]]:
    """(kind, media_ref, order) of a doc's spans in offset order."""
    return [(s["kind"], s["media_ref"], s["offset"])
            for s in sorted(doc["spans"], key=lambda s: s["offset"])]


def extraction_errors(docs: Sequence[Dict], rows: Sequence[Dict],
                      golden: Dict[str, Dict]) -> List[str]:
    """``rows`` are extraction outputs: doc_id, spans as
    (kind, text, media_ref, order) tuples, the FIELD_COLS and zones.
    ``golden`` maps a sample of doc_ids to the oracle's spans and fields.

    Every input doc appears exactly once, each doc's span layout equals
    its input spans sorted by offset, and the sampled docs' span texts
    and fields equal the oracle's."""
    errs = _ids_errors("extraction doc_ids",
                       (d["doc_id"] for d in docs),
                       (r["doc_id"] for r in rows))
    by_id = {r["doc_id"]: r for r in rows}
    bad_layout = [d["doc_id"] for d in docs if d["doc_id"] in by_id
                  and [(k, m, o) for k, _, m, o in by_id[d["doc_id"]]["spans"]]
                  != expected_layout(d)]
    if bad_layout:
        errs.append(f"span layout differs from the input in "
                    f"{len(bad_layout)} docs, e.g. {bad_layout[:3]}")
    for doc_id, want in sorted(golden.items()):
        got = by_id.get(doc_id)
        if got is None:
            continue                    # already reported as missing
        if [tuple(s) for s in got["spans"]] != [tuple(s)
                                                for s in want["spans"]]:
            errs.append(f"{doc_id}: spans differ from the oracle")
        for col in FIELD_COLS:
            if not _close(got[col], want[col]):
                errs.append(f"{doc_id}.{col}: got {got[col]!r}, "
                            f"oracle {want[col]!r}")
        if tuple(got["zones"]) != tuple(want["zones"]):
            errs.append(f"{doc_id}.zones: got {got['zones']!r}, "
                        f"oracle {want['zones']!r}")
    return errs


def checkpoint_errors(input_ids: Sequence[str], committed_ids: Sequence[str],
                      lineage: Sequence[Dict]) -> List[str]:
    """After a kill and a resume: the committed doc_ids equal the input's,
    each exactly once, and lineage rows_in / rows_out each sum to the
    corpus size."""
    errs = _ids_errors("committed doc_ids", input_ids, committed_ids)
    n = len(input_ids)
    for key in ("rows_in", "rows_out"):
        total = sum(int(m[key]) for m in lineage)
        if total != n:
            errs.append(f"lineage {key} sums to {total}, corpus has {n}")
    return errs


def curation_errors(batches, pairs: Sequence[Iterable[Tuple[str, str]]],
                    verdicts: Sequence[Sequence[Dict]],
                    cos_min: float) -> List[str]:
    """``batches`` are inputs.StreamBatch; ``pairs[b]`` the near-dup pairs
    reported for batch b and ``verdicts[b]`` its rows (vec_id,
    centroid_id, cos_c, sem_keep).

    Every planted text copy is paired with its source; every planted
    embedding copy is dropped; each drop has an earlier vector of its
    cluster at cosine >= cos_min, and no kept vector has one. "Earlier"
    is any vector of an earlier batch, or of the same batch ahead of it
    in keep order (cos_c, vec_id ascending)."""
    errs: List[str] = []
    vec_by_id = {vid: np.asarray(v, dtype=np.float64)
                 for b in batches for vid, v in b.vectors}
    seen: Dict[int, List[int]] = defaultdict(list)   # cluster -> vec_ids
    for b, (batch, found, rows) in enumerate(zip(batches, pairs, verdicts)):
        found = {tuple(sorted(p)) for p in found}
        lost = [c for c, s in batch.text_copies
                if tuple(sorted((c, s))) not in found]
        if lost:
            errs.append(f"batch {b}: {len(lost)} planted text copies not "
                        f"paired with their source, e.g. {lost[:3]}")
        errs += _ids_errors(f"batch {b} verdict vec_ids",
                            (vid for vid, _ in batch.vectors),
                            (r["vec_id"] for r in rows))
        keep = {r["vec_id"]: r["sem_keep"] for r in rows}
        kept_copies = [c for c, _ in batch.emb_copies if keep.get(c)]
        if kept_copies:
            errs.append(f"batch {b}: {len(kept_copies)} planted embedding "
                        f"copies kept, e.g. {kept_copies[:3]}")
        ordered = sorted(rows, key=lambda r: (r["cos_c"], r["vec_id"]))
        wrong = []
        for r in ordered:
            if r["vec_id"] not in vec_by_id:
                continue                # already reported as unexpected
            earlier = seen[r["centroid_id"]]
            v = vec_by_id[r["vec_id"]]
            best = -1.0
            if earlier:
                mat = np.stack([vec_by_id[e] for e in earlier])
                cos = mat @ v / (np.linalg.norm(mat, axis=1)
                                 * np.linalg.norm(v))
                best = float(cos.max())
            if r["sem_keep"] and best >= cos_min + COS_EPS:
                wrong.append((r["vec_id"], "kept", round(best, 6)))
            if not r["sem_keep"] and best < cos_min - COS_EPS:
                wrong.append((r["vec_id"], "dropped", round(best, 6)))
            earlier.append(r["vec_id"])
        if wrong:
            errs.append(f"batch {b}: {len(wrong)} verdicts disagree with "
                        f"the NumPy cosine, e.g. {wrong[:3]}")
    return errs
