"""Measured scaling curve: sf0.1 vs the generated tiers, rendered from records.

Reads the bench records (BENCH_sf0.1.json / BENCH_gen_sf*.json — full
per-query records as written by bench.py's BENCH_LOCAL.json, renamed),
the scale-audit JSONs (SCALE_AUDIT.json / SCALE_AUDIT_gen_sf*.json),
the optional measurement records (BUCKETED_BENCH, RANGE_JOIN_REGIMES,
MISBROADCAST_AUDIT, CURATION_BENCH, STREAM_BENCH, DEC38_BENCH,
IDLE_REMEASURES) and the previous git versions of the gen-tier records,
and writes SCALING.md. Every value in it is computed from those
records; tests/test_scaling_report_render.py fails when the committed
SCALING.md differs from ``render()``.

Flags: at 10x the rows, near-linear means wall ratio <= ~12x and
shuffle ratio <= ~12x; anything above (or any spill) is flagged, and
the flagged queries' shuffle write is printed at every audited tier.

Cross-round movers: a query whose calibrated wall moved more than
``MOVER_RATIO`` either way against the previous git version of its
tier record is labelled by its scale-audit counters at the same two
commits. Equal stages and shuffle write mean the same plan did the
same work, so the move is the measurement window; a counter change is
a plan change. Blind spot: a change inside a UDF or kernel body can
slow a query without moving any counter — for that case re-measure
the query with ``python scripts/idle_remeasure.py``.

Run after:
    python scripts/gen_scale_tier.py
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python bench.py
        && cp BENCH_LOCAL.json BENCH_sf0.1.json
    SPARK_GRAFT_SF_DIR=/root/repo/gen_sf1 python bench.py
        && cp BENCH_LOCAL.json BENCH_gen_sf1.json
    python scripts/scale_audit.py
    SPARK_GRAFT_SF_DIR=/root/repo/gen_sf1 python scripts/scale_audit.py
    python scripts/scaling_report.py
(`bash scripts/regen_scale_evidence.sh` runs the whole chain.)
"""

from __future__ import annotations

import json
import os
import subprocess

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WALL_FLAG = 12.0  #: wall ratio above this at 10x rows = super-linear
SHUFFLE_FLAG = 12.0
#: a shuffle-ratio flag needs materiality: kilobyte-scale top-k merges
#: and rollups can grow 20x (fixed per-partition overhead, candidate
#: sets) while staying irrelevant; only flag when the 10x tier moves
#: real bytes.
SHUFFLE_FLOOR_MB = 5.0
#: calibrated cross-round wall ratio (either direction) that lists a
#: query in the mover table
MOVER_RATIO = 1.2
#: scale-audit counters that identify the work a plan did; both are
#: exactly reproducible run to run, unlike wall or executor CPU time
MOVER_COUNTERS = ("stages", "shuffle_write_mb")


def _load(name: str) -> dict | None:
    path = os.path.join(ROOT, name)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def _git_show(sha: str, name: str) -> dict | None:
    """A record as committed at ``sha``, or None when that commit has no
    parseable version of it."""
    try:
        text = subprocess.run(
            ["git", "show", f"{sha}:{name}"],
            capture_output=True, text=True, cwd=ROOT, check=True,
        ).stdout
        return json.loads(text)
    except (subprocess.CalledProcessError, json.JSONDecodeError, OSError):
        return None


def _git_prev_record(name: str, cur: dict) -> tuple[str, dict] | None:
    """The last COMMITTED version of a tier bench record that differs
    from the working copy — (short sha, record) or None. The chain
    rewrites BENCH_gen_*.json in place, so 'previous round' for a tier
    record means its previous git version, not a BENCH_r*.json (those
    are sf0.1-only)."""
    try:
        # --abbrev pins the sha width so the rendered text does not
        # change as the object count grows.
        shas = subprocess.run(
            ["git", "log", "-n", "8", "--abbrev=7", "--format=%h", "--", name],
            capture_output=True, text=True, cwd=ROOT, check=True,
        ).stdout.split()
    except (subprocess.CalledProcessError, OSError):
        return None
    for sha in shas:
        # A malformed or deleted version is skipped, not fatal: older
        # commits may still hold a usable record.
        rec = _git_show(sha, name)
        if rec and rec.get("value") and rec.get("calibration_sec") and (
            rec["value"] != cur.get("value")
            or rec["calibration_sec"] != cur.get("calibration_sec")
        ):
            return sha, rec
    return None


def _all_queries(bench: dict) -> dict:
    return {**bench["queries"], **bench.get("queries_extended", {})}


def _audit_rows(audit: dict | None) -> dict:
    return {r["query"]: r for r in (audit or {}).get("rows", [])}


def mover_label(prev: dict | None, cur: dict | None) -> str:
    """Counter verdict for a cross-round wall mover, from its scale-audit
    rows in the previous and current record versions."""
    same = (
        prev is not None
        and cur is not None
        and all(prev[k] == cur[k] for k in MOVER_COUNTERS)
    )
    return "counters unchanged" if same else "counters changed"


def _movers(name: str, sha: str, prev: dict, cur: dict) -> list[tuple]:
    """(query, prev s, cur s, calibrated ratio, prev audit row, cur audit
    row) for every query of a tier record whose calibrated wall moved
    more than MOVER_RATIO either way, largest ratio first."""
    audit = name.replace("BENCH_", "SCALE_AUDIT_")
    pa, ca = _audit_rows(_git_show(sha, audit)), _audit_rows(_load(audit))
    pq = _all_queries(prev)
    out = []
    for q, w in _all_queries(cur).items():
        if q not in pq:
            continue
        ratio = (w / cur["calibration_sec"]) / (pq[q] / prev["calibration_sec"])
        if max(ratio, 1 / ratio) > MOVER_RATIO:
            out.append((q, pq[q], w, ratio, pa.get(q), ca.get(q)))
    return sorted(out, key=lambda m: -m[3])


def _counter_pair(prev: dict | None, cur: dict | None, key: str) -> str:
    if prev is None or cur is None:
        return "—"
    return f"{prev[key]} -> {cur[key]}"


def _tier_continuity_lines() -> list[str]:
    """Calibrated cross-round ratios for every gen-tier bench record
    present: (cur.value/cur.cal) / (prev.value/prev.cal) against the
    last differing committed version, then the per-query movers."""
    out, table, labels = [], [], []
    for name in ("BENCH_gen_sf1.json", "BENCH_gen_sf3.json", "BENCH_gen_sf10.json",
                 "BENCH_gen_sf0.3.json"):
        cur = _load(name)
        if not cur or not cur.get("value") or not cur.get("calibration_sec"):
            continue
        prev = _git_prev_record(name, cur)
        if not prev:
            continue
        sha, rec = prev
        ratio = (cur["value"] / cur["calibration_sec"]) / (
            rec["value"] / rec["calibration_sec"]
        )
        line = (
            f"- `{name}`: headline {rec['value']} s (@{sha}) -> {cur['value']} s, "
            f"anchors {rec['calibration_sec']} / {cur['calibration_sec']} — "
            f"calibrated **{ratio:.3f}x**"
        )
        e0, e1 = rec.get("extended_total"), cur.get("extended_total")
        if e0 and e1:
            er = (e1 / cur["calibration_sec"]) / (e0 / rec["calibration_sec"])
            line += f"; extended {e0} -> {e1} s, calibrated **{er:.3f}x**"
        # When the two anchors differ enough to manufacture most of the
        # ratio, the raw ratio is printed beside it.
        cal_shift = cur["calibration_sec"] / rec["calibration_sec"]
        if abs(cal_shift - 1.0) > 0.10:
            raw = cur["value"] / rec["value"]
            line += (
                f" — CAUTION: anchors differ {cal_shift:.2f}x between the two"
                f" windows, so this ratio is partly anchor-dominated (raw"
                f" {raw:.3f}x); read the movers' counters below before"
                f" treating it as a plan change"
            )
        # A >10% divergence of a record's own start/end anchor pair means
        # its window was contended while it ran.
        for tag, r in (("prev", rec), ("cur", cur)):
            cs = r.get("calibration_sec_start")
            if cs and abs(cs / r["calibration_sec"] - 1.0) > 0.10:
                line += (
                    f" — CAUTION: the {tag} record's own start/end anchors"
                    f" diverge ({cs} -> {r['calibration_sec']} s): contended"
                    f" window, per-query walls unreliable"
                )
        out.append(line)
        for q, w0, w1, r, pa, ca in _movers(name, sha, rec, cur):
            labels.append(mover_label(pa, ca))
            table.append(
                f"| {name} | {q} | {w0} | {w1} | {r:.2f}x "
                f"| {_counter_pair(pa, ca, 'stages')} "
                f"| {_counter_pair(pa, ca, 'shuffle_write_mb')} "
                f"| {labels[-1]} |"
            )
    if not out:
        return []
    unchanged = labels.count("counters unchanged")
    return [
        "## Cross-round continuity at the generated tiers (calibrated)",
        "",
        "Same mechanism as bench.py's `calibrated_vs_prev_round` (sf0.1 "
        "vs committed BENCH_r*.json), applied to the in-place-rewritten "
        "tier records via their previous git versions — >1 means this "
        "round's code is slower per unit of CPU-anchor work at that tier:",
        "",
        *out,
        "",
        f"Movers: every query whose calibrated wall moved more than "
        f"{MOVER_RATIO}x either way, with its stages and shuffle write "
        "(MB) from the same tier's scale-audit record at the same two "
        "commits. Unchanged counters mean the same plan did the same "
        "work; changed counters mean the plan changed. A change inside "
        "a UDF or kernel body moves no counter: re-measure such a query "
        "with `scripts/idle_remeasure.py`.",
        "",
        f"- movers: **{len(table)}** — counters unchanged **{unchanged}**, "
        f"counters changed **{len(table) - unchanged}**",
        "",
        "| record | query | prev s | cur s | calibrated | stages | shufW MB | counters |",
        "|---|---|---|---|---|---|---|---|",
        *table,
        "",
    ]


#: every curve point: (label, row multiplier, bench json, audit json)
#: — sections render only for the files that exist.
TIERS = [
    ("1x", 1, "BENCH_sf0.1.json", "SCALE_AUDIT.json"),
    ("3x", 3, "BENCH_gen_sf0.3.json", "SCALE_AUDIT_gen_sf0.3.json"),
    ("10x", 10, "BENCH_gen_sf1.json", "SCALE_AUDIT_gen_sf1.json"),
    ("30x", 30, "BENCH_gen_sf3.json", "SCALE_AUDIT_gen_sf3.json"),
    ("100x", 100, "BENCH_gen_sf10.json", "SCALE_AUDIT_gen_sf10.json"),
]
#: the points beyond the flagged sf0.1 -> 10x pair
EXTRA_TIERS = [t for t in TIERS if t[1] not in (1, 10)]


def _flagged_section(flagged: list[dict]) -> list[str]:
    """Shuffle write of each flagged query at every audited tier."""
    tiers = [(label, _audit_rows(a)) for label, _, _, name in TIERS if (a := _load(name))]
    if not flagged or not tiers:
        return []
    lines = [
        "## Flagged queries: shuffle write (MB) at every audited tier",
        "",
        "| query | " + " | ".join(label for label, _ in tiers) + " |",
        "|---|" + "---|" * len(tiers),
    ]
    for r in flagged:
        cells = [str(rows[r["query"]]["shuffle_write_mb"]) if r["query"] in rows else "—"
                 for _, rows in tiers]
        lines.append(f"| {r['query']} | " + " | ".join(cells) + " |")
    return lines + [""]


def _mid_tier_section(b0: dict, b1: dict) -> list[str]:
    """Extra curve points (3x below, 30x and 100x above the flagged 10x
    pair)."""
    q0 = _all_queries(b0)
    rows = []
    for label, mult, bench_name, audit_name in EXTRA_TIERS:
        bm = _load(bench_name)
        if not bm:
            continue
        qm = _all_queries(bm)
        worst_r, worst_q = max(
            (qm[k] / max(q0[k], 1e-3), k) for k in q0 if k in qm
        )
        am = _load(audit_name)
        spill = (
            sum(1 for r in am["rows"] if r.get("spill_mb", 0) > 0)
            if am
            else None
        )
        rows.append((label, mult, bm, worst_q, worst_r, spill))
    if not rows:
        return []
    lines = [
        "## Extra curve points",
        "",
        "Each generated tier's bench record against sf0.1: headline ratio, "
        "the query with the largest wall ratio, and how many queries its "
        "scale audit saw spill.",
        "",
    ]
    pts = sorted(
        [(1, b0), (10, b1)] + [(m, bm) for _, m, bm, *_ in rows]
    )
    ext_pts = [bm for _, bm in pts if bm.get("extended_total")]
    lines.append(
        "headline wall: "
        + " -> ".join(f"**{bm['value']} s** ({m}x rows)" for m, bm in pts)
        + "; extended: "
        + " -> ".join(f"{bm['extended_total']} s" for bm in ext_pts)
        + " (headline-only tiers omitted)."
    )
    lines.append("")
    for label, mult, bm, worst_q, worst_r, spill in rows:
        line = (
            f"- **{label} tier**: headline "
            f"{bm['value'] / b0['value']:.1f}x wall for {mult}x rows; "
            f"worst single query `{worst_q}` at {worst_r:.1f}x"
        )
        if spill is not None:
            line += f"; spilled queries: {spill}"
        lines.append(line + ".")
    lines.append("")
    return lines


def _curation_section() -> list[str]:
    """End-to-end curation curve, rendered from CURATION_BENCH.json
    (scripts/curation_bench.py)."""
    cb = _load("CURATION_BENCH.json")
    if not cb:
        return []
    tiers = cb["tiers"]
    base = tiers[0]
    curve = " -> ".join(
        f"**{t['wall_sec']} s** ({t['mult']}x docs)" for t in tiers
    )
    worst = max(tiers[1:], key=lambda t: t["wall_sec"] / base["wall_sec"])
    return [
        "## End-to-end curation curve",
        "",
        "Wall of the six-stage `examples/curate_corpus.py` pipeline (clean"
        " -> LSH dedup -> decontaminate -> mix -> split -> pack ->"
        f" partitioned write) per documents tier; {cb['note']}.",
        "",
        f"wall: {curve}; worst point "
        f"{worst['wall_sec'] / base['wall_sec']:.1f}x wall at "
        f"{worst['mult']}x documents.",
        "",
    ]


def _idle_remeasure_section() -> list[str]:
    """Idle re-measures of cross-round movers, rendered from
    IDLE_REMEASURES.json (scripts/idle_remeasure.py)."""
    loaded = _load("IDLE_REMEASURES.json")
    if not loaded:
        return []
    records = loaded if isinstance(loaded, list) else [loaded]
    lines = ["## Idle re-measure adjudication (machine-readable)", ""]
    for ir in records:
        lines += _idle_remeasure_record(ir)
    return lines


def _idle_remeasure_record(ir: dict) -> list[str]:
    has_chain = bool(ir.get("chain_record"))
    lines = [
        f"The biggest calibrated per-query movers of `{ir['cur_record']}`"
        f" vs `{ir['base_record']}`, re-measured idle (page-cache warm,"
        f" session-shape pre-pass, min-of-{ir['runs_per_query']}, own CPU"
        f" anchor {ir['idle_calibration_sec']}) at `{ir['sf_dir']}`"
        + (f", with `{ir['chain_record']}` as a second reference"
           if has_chain else "") + ":",
        "",
        "| query | base s | cur s (ratio) | idle s | idle vs base |"
        + (" idle vs chain |" if has_chain else ""),
        "|---|---|---|---|---|" + ("---|" if has_chain else ""),
    ]
    reverted = chain_band = 0
    for q in ir["queries"]:
        ratio = q.get("cur_vs_base_calibrated")
        iv = q.get("idle_vs_base_calibrated")
        ic = q.get("idle_vs_chain_calibrated")
        if iv is not None and iv <= 1.1:
            reverted += 1
        if ic is not None and ic <= 1.2:
            chain_band += 1
        row = (
            f"| {q['query']} | {q['base_sec']} | {q['cur_sec']}"
            f" ({ratio if ratio is not None else '—'}x) | {q['idle_min_sec']}"
            f" | **{iv if iv is not None else '—'}x** |"
        )
        if has_chain:
            row += f" {ic if ic is not None else '—'}x |"
        lines.append(row)
    n = len(ir["queries"])
    lines += [
        "",
        f"{reverted}/{n} movers are within 1.1x of the base record when"
        " measured idle."
        + (f" {chain_band}/{n} are within 1.2x of the chain reference." if has_chain else ""),
        "",
    ]
    return lines


def _dec38_section() -> list[str]:
    """DECIMAL(38,0) escape-hatch cost, rendered from DEC38_BENCH.json
    (scripts/dec38_bench.py)."""
    db = _load("DEC38_BENCH.json")
    if not db:
        return []
    lines = [
        "## DECIMAL(38,0) money-accumulator escape hatch (measured)",
        "",
        "BIGINT vs DECIMAL(38,0) money accumulator (`scripts/dec38_bench.py`,"
        f" adjacent warm min-of-{db['runs_per_point']} runs): {db['note']}.",
        "",
        "| tier | BIGINT s | DECIMAL(38,0) s | dec38 / bigint |",
        "|---|---|---|---|",
    ]
    for t in db["tiers"]:
        lines.append(
            f"| {t['tier']} ({t['mult']}x) | {t['bigint_min_sec']} "
            f"| {t['dec38_min_sec']} | **{t['dec38_over_bigint']}x** |"
        )
    lines.append("")
    return lines


def _bucketed_section() -> list[str]:
    """Bucketed co-partitioned layout vs plain parquet, rendered from
    BUCKETED_BENCH.json (scripts/bucketed_layout_bench.py)."""
    bb = _load("BUCKETED_BENCH.json")
    if not bb:
        return []
    lines = [
        "## Bucketed co-partitioned layout (the crossover answer, measured)",
        "",
        "The same shipped queries over plain parquet and over the family's "
        "fact tables written once as bucketed, bucket-sorted catalog tables "
        "(`scripts/bucketed_layout_bench.py`; plan shapes locked in "
        "`tests/test_bucketed_layout.py`):",
        "",
        "| family | tier | query | wall parquet s | wall bucketed s | shufW parquet MB | shufW bucketed MB | exchanges parquet | exchanges bucketed |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    families = bb.get("families") or [
        {"family": "orderkey", "tiers": bb.get("tiers", [])}
    ]
    both = [fam["family"] for fam in families if fam.get("plan_sections") != "final"]
    if both:
        lines[2:2] = [
            f"Exchange counts of the {', '.join(both)} rows cover both the "
            "Final and the Initial section of each AQE plan string; later "
            "runs count the final plan only.",
            "",
        ]
    for fam in families:
        for t in fam["tiers"]:
            for q in t["queries"]:
                p, b = q["parquet"], q["bucketed"]
                lines.append(
                    f"| {fam['family']} | {t['tier']} | {q['query']} "
                    f"| {p['wall_sec']} | {b['wall_sec']} "
                    f"| {p['shuffle_write_mb']} | {b['shuffle_write_mb']} "
                    f"| {p['shuffle_exchanges']} | {b['shuffle_exchanges']} |"
                )
    writes = "; ".join(
        f"{fam['family']}/{t['tier']}: {t['bucketed_write']['wall_sec']} s / "
        f"{t['bucketed_write']['shuffle_write_mb']} MB"
        for fam in families
        for t in fam["tiers"]
    )
    # Break-even: the write is paid once; how many query executions
    # repay it? Two bases per family, both at the LARGEST measured tier:
    # local wall (write wall / per-query wall saved) and shuffle bytes
    # (write shuffle / per-query shuffle eliminated) — the byte basis is
    # the cluster-relevant one, where eliminated shuffle crosses the
    # network and the write's own shuffle is the same one-time cost.
    breakeven_lines = []
    for fam in families:
        t = fam["tiers"][-1]
        w = t["bucketed_write"]
        wall_saves = [
            q["parquet"]["wall_sec"] - q["bucketed"]["wall_sec"]
            for q in t["queries"]
        ]
        shuf_saves = [
            q["parquet"]["shuffle_write_mb"] - q["bucketed"]["shuffle_write_mb"]
            for q in t["queries"]
        ]
        # floor the denominators at 5% of the write cost: a query that
        # saves 7 MB against a 393 MB write (events_funnel — its win is
        # the 9 eliminated exchanges, not bytes) would otherwise quote
        # a meaningless 54-execution "break-even" for a layout nobody
        # builds for that query.
        shuf_floor = max(1.0, 0.05 * w["shuffle_write_mb"])
        wall_n = sorted(
            w["wall_sec"] / s for s in wall_saves if s > 0.05
        )
        shuf_n = sorted(
            w["shuffle_write_mb"] / s for s in shuf_saves if s > shuf_floor
        )
        # A tier where no query clears the 0.05 s / 5% floors leaves
        # these lists empty: render a "no measured saving" line instead
        # of crashing the whole SCALING.md regeneration.
        if not wall_n or not shuf_n:
            breakeven_lines.append(
                f"- **{fam['family']}** (at {t['tier']}): write "
                f"{w['wall_sec']} s / {w['shuffle_write_mb']:.0f} MB; no "
                f"per-query saving above the floors (0.05 s wall / "
                f"{shuf_floor:.0f} MB shuffle) at this tier — break-even "
                "n/a; the layout is not justified by these queries at "
                "this scale."
            )
            continue
        breakeven_lines.append(
            f"- **{fam['family']}** (at {t['tier']}): write "
            f"{w['wall_sec']} s / {w['shuffle_write_mb']:.0f} MB; "
            f"per-query savings {min(s for s in wall_saves if s > 0.05):.2f}"
            f"-{max(wall_saves):.2f} s wall, "
            f"{min(s for s in shuf_saves if s > shuf_floor):.0f}"
            f"-{max(shuf_saves):.0f} MB shuffle -> local wall break-even "
            f"**~{wall_n[0]:.0f}-{wall_n[-1]:.0f} executions** of the "
            f"measured queries; shuffle-byte break-even "
            f"**~{shuf_n[0]:.0f}-{shuf_n[-1]:.0f} executions**."
        )
    lines += [
        "",
        f"One-off bucketed writes (paid at ingest): {writes}.",
        "",
        "**Break-even arithmetic** (one-off write cost over per-query "
        "savings at the largest measured tier, on a local-wall basis and "
        "a shuffle-byte basis):",
        "",
        *breakeven_lines,
        "",
    ]
    return lines


def _misbroadcast_section() -> list[str]:
    """Catalog-wide sweep for broadcasts of a side that grows with the
    corpus, rendered from MISBROADCAST_AUDIT.json
    (scripts/misbroadcast_audit.py)."""
    mb = _load("MISBROADCAST_AUDIT.json")
    if not mb:
        return []
    raw = mb.get("raw_fact_broadcasts", [])
    reduced = mb.get("reduced_fact_broadcasts", [])
    return [
        f"## Misbroadcast audit at {mb['tier']} (the range-join pathology, swept catalog-wide)",
        "",
        f"Executed plans of {mb['queries_audited']} graded and bench queries "
        "swept for BroadcastExchanges over a fact-table scan: raw (no "
        "selective filter or aggregation below it) or reduced (filtered or "
        "aggregated first). Each reduced entry's reason is in the "
        "`REDUCED_OK` allowlist of `tests/test_misbroadcast_canary.py`.",
        "",
        f"- **raw fact broadcasts: {len(raw)}**" + (" — " + ", ".join(raw) if raw else ""),
        f"- reduced fact broadcasts: {len(reduced)}"
        + (" — " + ", ".join(reduced) if reduced else ""),
        "",
    ]


def _range_join_regimes_section() -> list[str]:
    """Every join regime of events_range_join measured at the big
    tier, rendered from RANGE_JOIN_REGIMES.json
    (scripts/range_join_regimes.py)."""
    rj = _load("RANGE_JOIN_REGIMES.json")
    if not rj:
        return []
    fan = rj["fanout"]
    lines = [
        f"## Range-join regimes at {rj['tier']} (every strategy measured)",
        "",
        "Identical dataflow, only the join-strategy hint varies "
        "(min-of-3 after an untimed per-regime warm run, calibration "
        f"anchor {rj['calibration_sec']} s):",
        "",
        "| regime | hint | wall min s | shuffle write MB | join | exchanges | spill MB |",
        "|---|---|---|---|---|---|---|",
    ]
    if rj.get("plan_sections") != "final":
        lines[2:2] = [
            "Join and exchange counts in this record come from the pre-AQE "
            "plan, not the final plan the measured run executed; later "
            "runs count the AQE-final plan.",
            "",
        ]
    for r in rj["regimes"]:
        join = (
            f"BHJ x{r['bhj']}" if r["bhj"]
            else f"SHJ x{r['shj']}" if r["shj"]
            else f"SMJ x{r['smj']}"
        )
        lines.append(
            f"| {r['regime']} | {r['hint'] or '—'} | {r['wall_min_sec']} "
            f"| {r['shuffle_write_mb']} | {join} | {r['exchanges']} "
            f"| {r['spill_mb']} |"
        )
    lines += [
        "",
        f"Join-key fan-out: max {fan['max_events_per_user_day']} / p99 "
        f"{fan['p99_events_per_user_day']} events per (user, day) vs "
        f"{fan['max_events_per_user_lifetime']} / "
        f"{fan['p99_events_per_user_lifetime']} per user lifetime.",
        "",
    ]
    return lines


def _streaming_section() -> list[str]:
    """Structured Streaming timing/state evidence, rendered from
    STREAM_BENCH.json (scripts/stream_bench.py)."""
    sb = _load("STREAM_BENCH.json")
    if not sb:
        return []
    lines = [
        "## Streaming surface (Structured Streaming, file source ->"
        " memory/foreachBatch sink)",
        "",
        "| profile | tier | input rows | wall s | rows/s | batches |"
        " state rows | state MB |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for r in sb["rows"]:
        lines.append(
            f"| {r['profile']} | {r['tier']} | {r['rows']} "
            f"| {r['wall_sec']} | {r['rows_per_sec']:,.0f} "
            f"| {r.get('batches', '')} | {r.get('state_rows', '')} "
            f"| {r.get('state_mb', '')} |"
        )
    lines += ["", sb.get("note", ""), ""]
    return lines


def render() -> str:
    """SCALING.md's text, computed from the committed records."""
    b0 = _load("BENCH_sf0.1.json")
    b1 = _load("BENCH_gen_sf1.json")
    a0 = _load("SCALE_AUDIT.json")
    a1 = _load("SCALE_AUDIT_gen_sf1.json")
    if not (b0 and b1):
        raise FileNotFoundError("run bench at both tiers first (see module docstring)")

    q0, q1 = _all_queries(b0), _all_queries(b1)
    s0, s1 = _audit_rows(a0), _audit_rows(a1)

    rows = []
    for name in q0:
        if name not in q1:
            continue
        w0, w1 = q0[name], q1[name]
        wall_ratio = round(w1 / max(w0, 1e-3), 1)
        sh0 = s0.get(name, {}).get("shuffle_write_mb")
        sh1 = s1.get(name, {}).get("shuffle_write_mb")
        sh_ratio = (
            round(sh1 / max(sh0, 1e-3), 1)
            if sh0 is not None and sh1 is not None and sh0 > 0.001
            else None
        )
        sp1 = s1.get(name, {}).get("spill_mb", 0)
        rows.append(
            {
                "query": name,
                "wall_sf01": w0,
                "wall_sf1": w1,
                "wall_ratio": wall_ratio,
                "shuffle_sf01_mb": sh0,
                "shuffle_sf1_mb": sh1,
                "shuffle_ratio": sh_ratio,
                "spill_sf1_mb": sp1,
            }
        )
    rows.sort(key=lambda r: -r["wall_ratio"])

    flagged = [
        r
        for r in rows
        if r["wall_ratio"] > WALL_FLAG
        or (
            r["shuffle_ratio"] is not None
            and r["shuffle_ratio"] > SHUFFLE_FLAG
            and (r["shuffle_sf1_mb"] or 0) > SHUFFLE_FLOOR_MB
        )
        or r["spill_sf1_mb"] > 0
    ]
    h0, h1 = b0["value"], b1["value"]
    e0, e1 = b0.get("extended_total"), b1.get("extended_total")

    out = [
        "# Measured scaling curve — sf0.1 -> 10x generated tier",
        "",
        "`gen_sf1/` is a seeded 10x replication of the sf0.1 fixtures with",
        "consistent key remapping (per-key join fan-outs preserved, document",
        "dup-rate flat, fresh noisy embeddings — scripts/gen_scale_tier.py).",
        "Both tiers ran the identical bench (min-of-3, noop sink, local[32])",
        "and scale audit. At 10x rows, near-linear means wall and shuffle",
        f"ratios <= ~{WALL_FLAG:.0f}x; queries above that (shuffle only when",
        f"the 10x tier moves > {SHUFFLE_FLOOR_MB:.0f} MB — kilobyte-scale",
        "top-k merges can grow 20x while staying irrelevant) or spilling",
        "at the 10x tier are flagged as the re-plan queue.",
        "",
        f"- headline total: **{h0} s -> {h1} s** "
        f"(**{h1 / h0:.1f}x** wall for 10x rows)",
    ]
    c0, c1 = b0.get("calibration_sec"), b1.get("calibration_sec")
    if c0 and c1:
        out.append(
            f"- calibration anchor (fixed-work sha256): {c0} s / {c1} s — "
            f"calibrated headline ratio "
            f"**{(h1 / c1) / (h0 / c0):.1f}x** (environment drift "
            "divided out; see BASELINE.md)"
        )
    if e0 and e1:
        out.append(
            f"- extended total: **{e0} s -> {e1} s** (**{e1 / e0:.1f}x**)"
        )
    if a0 and a1:
        t0 = round(sum(r["shuffle_write_mb"] for r in s0.values()), 1)
        t1 = round(sum(r["shuffle_write_mb"] for r in s1.values()), 1)
        sp = [n for n, r in s1.items() if r.get("spill_mb", 0) > 0]
        out.append(
            f"- total shuffle write: **{t0} MB -> {t1} MB** "
            f"(**{t1 / max(t0, 0.1):.1f}x**)"
        )
        out.append(
            f"- spilled at 10x: **{len(sp)}**"
            + ("" if not sp else " — " + ", ".join(sp))
        )
    out += [
        f"- flagged super-linear: **{len(flagged)}**"
        + ("" if not flagged else " — " + ", ".join(r["query"] for r in flagged)),
        "",
    ]
    out += _flagged_section(flagged)
    out += _mid_tier_section(b0, b1)
    out += _tier_continuity_lines()
    out += _range_join_regimes_section()
    out += _misbroadcast_section()
    out += _bucketed_section()
    out += _curation_section()
    out += _streaming_section()
    out += _dec38_section()
    out += _idle_remeasure_section()
    out += [
        "| query | wall sf0.1 s | wall 10x s | wall ratio | shufW sf0.1 MB | shufW 10x MB | shuf ratio | spill 10x MB |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        out.append(
            f"| {r['query']} | {r['wall_sf01']} | {r['wall_sf1']} "
            f"| {r['wall_ratio']} | {r['shuffle_sf01_mb']} | {r['shuffle_sf1_mb']} "
            f"| {r['shuffle_ratio']} | {r['spill_sf1_mb']} |"
        )
    return "\n".join(out) + "\n"


def main() -> None:
    text = render()
    with open(os.path.join(ROOT, "SCALING.md"), "w") as f:
        f.write(text)
    print("wrote SCALING.md")


if __name__ == "__main__":
    main()
