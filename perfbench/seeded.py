"""Seeded inputs for the benchmark's workloads.

Everything a workload feeds the engine is made here from the seed and
written under the run's input directory; the engine only sees these files.

* ``gate_order`` -- the seed's permutation of the gate slice.
* ``otel_stream`` -- OTel-JSON log lines for the product-loop workloads:
  backfill batches at 500 logs/s, then a warm batch and 60 s live windows
  at 100 logs/s (BASELINE.md's rate).  Normal traffic sends every template
  at a fixed count per window, spread evenly over it, so the detector's
  baseline matches the window and nothing normal is anomalous; one rare
  template logs once a second at any rate, and its word is the selective
  `tail` filter.  Each live window then carries the reference's anomaly
  mix (SURVEY section 6): novel templates (1/500 of the window's logs),
  one template's spike (1/100) and a stack-trace burst (1/200).  The
  manifest lists every injected anomaly, so the expected Tier-2 promotions
  follow from the seed.
"""

import json
import os
import random

# 2026-01-01T00:00:00Z: the first live window straddles this midnight, so
# the writer's event time crosses a UTC day boundary and leaves the day
# before as a closed `dt` leaf.
MIDNIGHT = 1767225600
LIVE_START = MIDNIGHT - 30
WINDOW_SEC = 60
# The warm batch sits just before the live windows at the live rate and
# holds more than the detector's 10k-row baseline sample, so the first
# window's baseline is live-rate traffic: a 500 logs/s baseline would mask
# a 1/100 spike.
WARM_SEC = 120
LIVE_RATE = 100
BACKFILL_RATE = 500
NOVEL_PER_WINDOW = 3      # 3 templates x 4 logs = 12 = 6000 / 500
NOVEL_COUNT = 4
SPIKE_EXTRA = 60          # 6000 / 100
STACK_COUNT = 30          # 6000 / 200
RARE_PER_SEC = 1

SERVICES = ["checkout", "payments", "catalog", "search", "auth", "cart",
            "shipping", "ledger"]
VERBS = ["fetched", "stored", "evicted", "retried", "validated", "rendered",
         "queued", "flushed", "resolved", "merged"]
NOUNS = ["order", "invoice", "session", "profile", "basket", "token",
         "shipment", "ledger entry", "price list", "report"]
LETTERS = "abcdefghijklmnopqrstuvwxyz"


# The gate slice: one query per graft.queries module (`ann_graph` probes
# the set-up's graph build).  A full pass of all 82 registered queries
# (40 s warm and 68 s cold at sf0.01 on 4 cores) does not fit one run's
# budget; this slice runs about 9 s a pass.
GATE_SLICE = {
    "Relational": ["q3_topk"],
    "LogOps": ["grouped_search"],
    "AnomalyOps": ["anomaly_detect"],
    "VectorOps": ["ann_graph"],
    "TextOps": ["minhash_sig"],
    "SimhashOps": ["simhash_fp"],
    "CurationOps": ["sample_topk_stratified"],
    "StreamOps": ["stateful_detect"],
    "MediaQueries": ["media_features"],
    "SessionOps": ["asof_join"],
    "CorpusOps": ["gopher_quality"],
    "HybridOps": ["hybrid_rrf"],
}


def gate_order(seed):
    """The seed's permutation of the gate slice."""
    order = sorted(q for qs in GATE_SLICE.values() for q in qs)
    random.Random(f"gate-order-{seed}").shuffle(order)
    return order


def _word(rng, n=8):
    return "".join(rng.choice(LETTERS) for _ in range(n))


def _templates(rng, n=40):
    """Normal templates: (prefix, service, severity, weight).  The prefix is
    letters only, so it survives the engine's number masking and names the
    template in the Tier-2 body."""
    out = []
    for i in range(n):
        prefix = f"{_word(rng)} {rng.choice(VERBS)} {rng.choice(NOUNS)}"
        sev = "ERROR" if i % 10 == 0 else ("WARN" if i % 5 == 0 else "INFO")
        out.append((prefix, SERVICES[i % len(SERVICES)], sev,
                    rng.choice([1, 1, 2, 2, 3, 4])))
    return out


def _body(rng, prefix):
    return (f"{prefix} id {rng.randrange(10**6)} in {rng.randrange(1, 900)} ms "
            f"from 10.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(256)}")


def _line(ts_ns, service, severity, body):
    return ('{"resourceLogs":[{"resource":{"attributes":[{"key":"service.name",'
            f'"value":{{"stringValue":"{service}"}}}}]}},"scopeLogs":[{{"logRecords":'
            f'[{{"timeUnixNano":"{ts_ns}","severityText":"{severity}",'
            f'"body":{{"stringValue":{json.dumps(body)}}}}}]}}]}}]}}')


def _spread(rng, t0, span, count):
    """`count` nanosecond timestamps evenly spread over [t0, t0 + span)."""
    step = span * 10**9 // count
    return [t0 * 10**9 + k * step + rng.randrange(step) for k in range(count)]


def _normal(rng, templates, rare, t0, span, rate):
    total_w = sum(t[3] for t in templates)
    events = []
    prefix, svc, sev, _ = rare
    for ts in _spread(rng, t0, span, RARE_PER_SEC * span):
        events.append((ts, svc, sev, _body(rng, prefix)))
    for prefix, svc, sev, w in templates:
        count = max(1, rate * span * w // total_w)
        for ts in _spread(rng, t0, span, count):
            events.append((ts, svc, sev, _body(rng, prefix)))
    return events


def _write(path, events):
    events.sort()
    with open(path, "w") as f:
        for ts, svc, sev, body in events:
            f.write(_line(ts, svc, sev, body) + "\n")
    return len(events)


def otel_stream(out_dir, seed, backfill_batches, backfill_span, windows):
    """Write warm.jsonl, backfill/bNNN.jsonl, live/wNNN.jsonl and
    manifest.json under `out_dir`; returns the manifest."""
    rng = random.Random(f"otel-{seed}")
    templates = _templates(rng)
    rare_word = _word(rng)
    rare = (f"{rare_word} {rng.choice(VERBS)} {rng.choice(NOUNS)}", SERVICES[0], "INFO", 0)
    os.makedirs(f"{out_dir}/backfill", exist_ok=True)
    os.makedirs(f"{out_dir}/live", exist_ok=True)
    warm_start = LIVE_START - WARM_SEC
    bf_start = warm_start - backfill_batches * backfill_span
    manifest = {"live_start": LIVE_START, "window_sec": WINDOW_SEC,
                "warm_now": LIVE_START, "selective_word": rare_word,
                "backfill": [], "windows": []}
    for b in range(backfill_batches):
        t0 = bf_start + b * backfill_span
        path = f"{out_dir}/backfill/b{b:03d}.jsonl"
        rows = _write(path, _normal(rng, templates, rare, t0, backfill_span, BACKFILL_RATE))
        manifest["backfill"].append({"path": path, "rows": rows})
    manifest["warm_rows"] = _write(f"{out_dir}/warm.jsonl",
                                   _normal(rng, templates, rare, warm_start, WARM_SEC, LIVE_RATE))
    # a spike must clear the detector's mean + 2.5 sigma over a steady
    # baseline: only templates whose per-window count stays small qualify.
    # Each window spikes another one, so no baseline holds an earlier spike
    # of its template.
    total_w = sum(t[3] for t in templates)
    spikeable = [t for t in templates
                 if LIVE_RATE * WINDOW_SEC * t[3] // total_w <= 300]
    rng.shuffle(spikeable)
    for w in range(windows):
        t0 = LIVE_START + w * WINDOW_SEC
        events = _normal(rng, templates, rare, t0, WINDOW_SEC, LIVE_RATE)
        injected = []
        for _ in range(NOVEL_PER_WINDOW):
            prefix = f"{_word(rng)} {_word(rng, 6)} unexpected state"
            svc = rng.choice(SERVICES)
            for ts in _spread(rng, t0, WINDOW_SEC, NOVEL_COUNT):
                events.append((ts, svc, "WARN", _body(rng, prefix)))
            injected.append({"kind": "novel", "type": "novelty", "prefix": prefix})
        prefix, svc, sev, _ = spikeable[w % len(spikeable)]
        for ts in _spread(rng, t0 + 20, 20, SPIKE_EXTRA):
            events.append((ts, svc, sev, _body(rng, prefix)))
        injected.append({"kind": "spike", "type": "frequency", "prefix": prefix})
        exc = f"{_word(rng, 10).capitalize()}Exception"
        prefix = f"unhandled {exc} in worker"
        svc = rng.choice(SERVICES)
        frames = [f"  at {_word(rng, 5)}.{_word(rng, 7)}(Main.java:" for _ in range(4)]
        for ts in _spread(rng, t0 + 5, 10, STACK_COUNT):
            trace = "\n".join(f"{fr}{rng.randrange(1, 500)})" for fr in frames)
            events.append((ts, svc, "ERROR", f"{prefix}\n{trace}"))
        injected.append({"kind": "stack", "type": "novelty", "prefix": prefix})
        path = f"{out_dir}/live/w{w:03d}.jsonl"
        rows = _write(path, events)
        manifest["windows"].append({"path": path, "rows": rows,
                                    "now": t0 + WINDOW_SEC, "injected": injected})
    with open(f"{out_dir}/manifest.json", "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


def serve_inputs(out_dir, seed, clusters, selective_word):
    """Inputs of `serve_mixed`: the Tier-1 points of `clusters` promoted
    clusters for a Tier-2 store (rolled up by the engine in set-up), and
    the seeded list of serving calls the callers cycle through.
    `selective_word` names `otel_stream`'s rare template."""
    rng = random.Random(f"serve-{seed}")
    t_end = LIVE_START - 7200
    t_start = t_end - clusters * 6
    words = [w for noun in NOUNS for w in noun.split()] + VERBS
    hashes = []
    with open(f"{out_dir}/tier2_points.jsonl", "w") as f:
        for k in range(clusters):
            h = f"{rng.getrandbits(64):016x}:{rng.getrandbits(64):016x}"
            hashes.append(h)
            svc = SERVICES[k % len(SERVICES)]
            sev = "ERROR" if k % 5 == 0 else "WARN"
            kind = "novelty" if k % 2 == 0 else "frequency"
            body = (f"{rng.choice(VERBS)} {rng.choice(NOUNS)} failed with code "
                    f"{rng.randrange(7)} for user {rng.randrange(10**5)}")
            for j in range(3):
                f.write(json.dumps({"rhythm_hash": h, "anomaly_type": kind,
                                    "ts_sec": t_start + 6 * k + j, "service": svc,
                                    "severity": sev, "body": body}) + "\n")
    calls = []
    for i in range(64):
        verb = ("clusters", "clusters_text", "triage", "tail")[i % 4]
        if verb == "clusters":
            start = rng.randrange(t_start, t_end - 3600)
            calls.append({"verb": verb, "start": start, "end": start + 3600})
        elif verb == "clusters_text":
            calls.append({"verb": verb, "filter": f"{rng.choice(words)} failed"})
        elif verb == "triage":
            pick = rng.sample(hashes, 3)
            calls.append({"verb": verb, "positive": pick[:2], "negative": pick[2:]})
        elif i % 8 == 3:
            # a word every log body holds (see _body), as ServeBench's
            # "completed": the first 64 s probe finds its 100 rows
            calls.append({"verb": verb, "kind": "broad",
                          "filter": rng.choice(["id", "ms", "from"])})
        else:
            # the rare template's word, about 64 rows in the newest 64 s:
            # the probe widens to 512 s
            calls.append({"verb": verb, "kind": "selective", "filter": selective_word})
    with open(f"{out_dir}/serve.json", "w") as f:
        json.dump({"now": t_end, "calls": calls}, f, indent=1)
