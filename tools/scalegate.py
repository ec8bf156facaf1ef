#!/usr/bin/env python3
"""Recorded 100x scale gate (round-15 verdict item: promote the 100x
probes from ad-hoc triage to a per-round artifact).

Runs graft.BenchOne over the DATA-PROPORTIONAL faces — the bench
head plus every banded/recount family whose cost is claimed
flat-or-linear — on the 10x and 100x corpus clones, computes each
query's 10->100x scaling exponent log(t100/t10)/log(10) from the
min-of-reps times, prints a markdown table (paste into
docs/bench-tail-triage.md), and FAILS (exit 1) if any exponent
exceeds --max-exp. A super-linear newcomer now trips this gate
instead of waiting for judge triage.

Usage:
  python3 tools/scalegate.py [--reps 2] [--max-exp 1.2]
      [--queries q1,q2,...] [--small /tmp/graft_sf1]
      [--big /tmp/graft_sf10] [--out scalegate_last.json]

Clones are built with tools/scale10.py (10x: sf0.1 -> /tmp/graft_sf1;
100x: /tmp/graft_sf1 -> /tmp/graft_sf10). min-of-reps is used (not
median) because the clone runs share one JVM and the first rep eats
codegen; with reps=2 the min is the warmed time.
"""
import argparse
import json
import math
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The data-proportional default set: every family whose 100 TB story
# is "bucketed/banded/capped, never all-pairs" plus the bench head.
# Faces with intentionally super-linear exact semantics (brute-force
# all-pairs baselines like q_sim_knn_all / q_sim_cosine_topk, the
# declared cross join) are NOT gated — their scale path is the ANN /
# banded variant that IS.
DEFAULT_QUERIES = [
    'q_dedup_semantic',          # SemDeDup: derived-k Lloyd + capped pair join
    'q_select_dsir_hashed',      # DSIR: constant-size broadcast by construction
    'q_dedup_minhash_lsh',       # banded LSH, hot-bucket caps
    'q_dedup_minhash_banded',
    'q_dedup_clusters_converged',  # fixpoint CC over the banded pair store
    'q_mm_audio_near',           # banded spectrum join (ids-only pair stage)
    'q_mm_phash_near',           # banded Hamming join
    'q_mm_video_near',           # strided frame-hash bands
    'q_text_fingerprint_fast',   # winnowing recount
    'q_text_contamination_bloom',  # Bloom sidecar probe
    'q_text_contamination',      # same blocking, no gate (r16 fix twin)
    'q_text_tfidf',              # corpus-linear explode + vocab agg
    'q_stream_approx_frequency',  # windowed CMS (the round-15 mover)
    'q_stream_asof',             # per-user window pass (r16 addition)
    'q_join_tpch_q21',           # dependent semi/anti over the fact (r16)
    'q_join_tpch_q17',           # per-part agg + equi-join back (r16)
    'q_agg_heavy_hitters',       # Misra-Gries recount
    'q_sort_percentile_exact',   # distributed exact percentile
    'q_graph_pagerank',          # bounded-round iterate
    'q_graph_pagerank_converged',  # orbit-stopped iterate (r17)
    'q_join_tpch_q2',            # offer agg + min join-back (r17)
    'q_join_tpch_q20',           # one-pass folded nested chain (r17)
    'q_join_tpch_q22',           # anti + broadcast scalar stats (r17)
    'q_stream_asof_join',        # per-user argmax window pass (r17)
    'q_join_tpch_q19',           # disjunctive pushdown fact scan (r17)
    'q_join_tpch_q13',           # double aggregation over outer join (r17)
    # q_layout_snapshot_read is NOT gated: its clone cost is dominated
    # by the one-time content-keyed artifact builds (fragmented demo +
    # compacted rewrite of the whole clone lineitem), not by the
    # manifest-pruned read under test — same reason the other layout
    # executor faces stay out of the default set.
]


def run_probe(reps, queries, dirs):
    cmd = ['sbt', '-batch',
           f"runMain graft.BenchOne {','.join(queries)} {reps} "
           + ' '.join(dirs)]
    # the host's cores unless the caller pins a count, as perfbench does
    env = dict(os.environ, SPARK_GRAFT_CPUS=os.environ.get(
        'SPARK_GRAFT_CPUS', str(os.cpu_count() or 1)))
    p = subprocess.run(cmd, cwd=ROOT, env=env, capture_output=True,
                       text=True)
    lines = [l for l in p.stdout.splitlines()
             if l.startswith('{"query":')]
    if p.returncode != 0 and not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
        sys.exit(f'BenchOne failed (rc={p.returncode})')
    return [json.loads(l) for l in lines]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument('--reps', type=int, default=2)
    ap.add_argument('--max-exp', type=float, default=1.2)
    ap.add_argument('--queries', default=','.join(DEFAULT_QUERIES))
    ap.add_argument('--small', default='/tmp/graft_sf1')
    ap.add_argument('--big', default='/tmp/graft_sf10')
    ap.add_argument('--out', default=os.path.join(ROOT, 'scalegate_last.json'))
    args = ap.parse_args()

    for d in (args.small, args.big):
        if not os.path.isdir(d):
            sys.exit(f'{d} missing — build clones with tools/scale10.py '
                     '(sf0.1 -> 10x -> 100x) before gating')
    queries = args.queries.split(',')
    recs = run_probe(args.reps, queries, [args.small, args.big])
    by = {}
    for r in recs:
        by.setdefault(r['query'], {})[r['dir']] = r

    scale = 10.0  # big/small corpus ratio (both clones step by 10x)
    rows, worst, failed = [], (None, -1.0), []
    for q in queries:
        small, big = by.get(q, {}).get(args.small), by.get(q, {}).get(args.big)
        if not small or not big:
            failed.append((q, 'missing probe output (crashed?)'))
            continue
        # clamp sub-resolution times to an epsilon (round-16 advice
        # item: a 0-second probe min would raise ZeroDivisionError /
        # math domain error here) — a face faster than 1 ms at either
        # scale is below timer resolution and its exponent is noise
        # anyway, so name the clamp instead of crashing
        t_small, t_big = small['min'], big['min']
        if t_small < 1e-3 or t_big < 1e-3:
            print(f'WARN {q}: probe min below 1 ms '
                  f'({t_small:.6f}/{t_big:.6f}) — clamped for the exponent')
            t_small, t_big = max(t_small, 1e-3), max(t_big, 1e-3)
        exp = math.log(t_big / t_small) / math.log(scale)
        # a face whose ANSWER grows super-linearly between the clones
        # (q_dedup_minhash_lsh's verified pairs grow C(100,2)/C(10,2)
        # = 109x — every clone copy duplicates every text) must be
        # allowed output-proportional time: the bound is work <=
        # O(input^max_exp + output), i.e. time exponent <= max(max_exp,
        # output exponent). A real regression (time super-linear while
        # the answer is not) still fails.
        if small['rows'] > 0 and big['rows'] > 0:
            exp_rows = math.log(big['rows'] / small['rows']) / math.log(scale)
        elif big['rows'] > 0:
            # 0 -> N rows (round-16 advice item: defaulting this to 0
            # silently denied the face any output allowance AND hid the
            # transition) — treat the small side as 1 row for the
            # allowance and flag the transition loudly
            exp_rows = math.log(big['rows']) / math.log(scale)
            print(f'WARN {q}: rows went 0 -> {big["rows"]} between '
                  f'clones; output exponent computed against 1 row')
        elif small['rows'] > 0:
            # N -> 0 rows between the clones is a BROKEN face, not a
            # scaling question (e.g. a literal predicate the
            # key-shifted clone no longer satisfies): its runtime
            # collapses with it, so the time exponent looks healthy —
            # fail the gate by name instead of passing silently
            # (round-17 review finding, the mirror of the 0->N case)
            failed.append((q, f'rows collapsed {small["rows"]} -> 0 at '
                              f'the big clone — face broken at scale, '
                              f'not gated on time'))
            # a broken face's time exponent is meaningless — keep it out
            # of the exponent table and the worst-line, like the
            # missing-probe branch (round-17 advice item)
            continue
        else:
            exp_rows = 0.0
        # ADDITIVE output bound (round-16/17 carried advice item): the
        # documented contract is work <= O(input^max_exp + output), so
        # the time budget is t_small*scale^max_exp (the input term)
        # PLUS c*(rows_big/rows_small)*t_small (output writing at the
        # small clone's whole-face rate, c=1 — generous, since writing
        # is never slower per row than the full face). Unlike the old
        # max(exp, exp_rows) rule, a quadratic face whose output also
        # happens to grow quadratically can no longer hide: its input
        # term blows the additive budget even when the exponents tie.
        ratio_rows = (big['rows'] / max(small['rows'], 1)) if big['rows'] > 0 else 0.0
        t_allowed = t_small * scale ** args.max_exp + ratio_rows * t_small
        if exp_rows > args.max_exp:
            print(f'WARN {q}: output exponent {exp_rows:.2f} above '
                  f'max-exp {args.max_exp} — additive budget '
                  f'{t_allowed:.2f}s includes the {ratio_rows:.0f}x '
                  f'output term; time exponent {exp:.2f}')
        rows.append((q, small['min'], big['min'], exp,
                     small['rows'], big['rows']))
        if exp > worst[1]:
            worst = (q, exp)
        if t_big > t_allowed:
            failed.append((q, f'time {t_big:.2f}s > additive budget '
                              f'{t_allowed:.2f}s '
                              f'({t_small:.2f}*{scale:.0f}^{args.max_exp}'
                              f' + {ratio_rows:.1f}x output term); '
                              f'exp {exp:.2f}, output exp {exp_rows:.2f}'))

    print('| query | 10x min (s) | 100x min (s) | exp 10->100x | rows 10x/100x |')
    print('|---|---|---|---|---|')
    for q, t1, t2, e, r1, r2 in rows:
        print(f'| `{q}` | {t1:.2f} | {t2:.2f} | {e:.2f} | {r1}/{r2} |')
    json.dump({'max_exp': args.max_exp, 'reps': args.reps,
               'rows': [dict(query=q, t_small=t1, t_big=t2, exp=round(e, 3),
                             rows_small=r1, rows_big=r2)
                        for q, t1, t2, e, r1, r2 in rows],
               'failed': [list(f) for f in failed]},
              open(args.out, 'w'), indent=1)
    if worst[0] is not None:
        print(f'\nworst exponent: {worst[0]} {worst[1]:.2f}; '
              f'record: {args.out}')
    if failed:
        for q, why in failed:
            print(f'GATE FAIL {q}: {why}')
        sys.exit(1)
    print(f'GATE OK: all {len(rows)} exponents within '
          f'max({args.max_exp}, output exponent)')


if __name__ == '__main__':
    main()
