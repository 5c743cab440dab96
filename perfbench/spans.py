"""Span files of the traced run and the self-time calculator.

A span is one JSON object per line: ``id``, ``parent`` (-1 for the
root), ``name``, ``start`` and ``end`` in seconds from the trace start.
The dump workloads' spans come from the harness's tracer; a traced
corpus run's spans are rebuilt here from the stage lines the command
prints, each stamped with its time since the command started.
"""

import json


def write(path, spans):
    with open(path, "w") as f:
        for s in spans:
            f.write(json.dumps(s) + "\n")


def read(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def from_stage_lines(lines, wall):
    """Spans of one traced `corpus run`: the command, one `ops.<stage>`
    span from the previous stage line to its own, and `cli.corpus_write`
    from the last stage line to the `output:` line.
    """
    spans = [{"id": 0, "parent": -1, "name": "pipeline", "start": 0.0, "end": wall},
             {"id": 1, "parent": 0, "name": "cli.corpus", "start": 0.0, "end": wall}]
    prev = 0.0
    for line in lines:
        _, t, text = line.split(" ", 2)
        if text.startswith("stage "):
            name = "ops." + text.split()[1]
        elif text.startswith("output:"):
            name = "cli.corpus_write"
        else:
            continue
        spans.append({"id": len(spans), "parent": 1, "name": name,
                      "start": prev, "end": float(t)})
        prev = float(t)
    return spans


def self_times(spans):
    """Per span name: summed duration minus the time its children cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, edge = 0.0, s["start"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], edge), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                edge = hi
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return out


def coverage(spans, layers):
    """Sum of the named layers' self times over the root span's wall."""
    root = next(s for s in spans if s["parent"] == -1)
    own = self_times(spans)
    return sum(own.get(name, 0.0) for name in layers) / (root["end"] - root["start"])
