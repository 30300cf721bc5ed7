"""The benchmark's own copy of the golden log lines and what the pipeline
must make of each one.

Every generated turn carries one of these 20 lines.  The expected result of
a whole run therefore follows from the generator's line-index histogram
alone: a line always routes to the same sink, gets the same level and keeps
the same message.  The table was derived once from the reference extractor
semantics (patternfactory.go and friends) and is data here, so that a change
in the program's output shows as a failed check, not as a new expectation.
"""

from __future__ import annotations

import numpy as np

# (tool, text, sink, log_level, message chars, has_process_error, has_validation_errors)
GOLDEN: list[tuple[str, str, str, str, int, bool, bool]] = [
    ("tslevelmsg", "2023-03-20T15:06:45.057Z [DEBUG] nomad: memberlist: Stream connection from=127.0.0.1:48046",
     "loki_app", "debug", 57, False, True),
    ("tslevelmsg", "2023-03-19 21:17:04,243+0000 INFO [FelixStartLevel] bundle org.apache.felix.scr:2.1.30 (54) Starting",
     "loki_app", "info", 66, False, True),
    ("tslevelmsg", "[1] 2023/03/20 14:27:52.652648 [INF] Server is ready",
     "loki_app", "info", 15, False, True),
    ("tslevelmsg", "2023-03-29 20:50:13.931 [INF] Server is ready",
     "loki_app", "info", 15, False, True),
    ("tslevelmsg", "2025-02-12T17:16:50.575363Z WRN Processor EcsLogChannel Nothing received after 10s",
     "loki_app", "warn", 50, False, True),
    ("tslevelmsg", "Invalid message",
     "loki_app", "unknown", 15, True, True),
    ("envoy", "[2023-03-30 10:51:43.705][42][debug][upstream] [source/common/upstream/upstream_impl.cc:451] transport socket match",
     "loki_infra", "debug", 79, False, True),
    ("envoy", "[2023-03-30 10:51:43.705][7][warning][config] [source/server/config.cc:91] gRPC config stream closed",
     "loki_infra", "warn", 67, False, True),
    ("traefik", "2024-12-19T18:22:09Z DBG github.com/traefik/traefik/v3/pkg/provider/consulcatalog/consul_catalog.go:287 > Filtering disabled item providerName=consulcatalog",
     "loki_infra", "debug", 50, False, True),
    ("traefik", "2024-12-19T18:22:10Z INF github.com/traefik/traefik/v3/pkg/server/router.go:102 > Router up routerName=web",
     "loki_infra", "info", 24, False, True),
    ("logfmt", 'ts=2023-03-10T18:53:52.739622365Z caller=health.go:87 level=error msg="error collecting stats for unit" err="permission denied"',
     "loki_app", "error", 31, False, True),
    ("logfmt", 'logger=live t=2023-03-16T20:43:56.936517913Z level=info msg="Initialized channel handler" channel=grafana path=grafana',
     "loki_app", "info", 27, False, True),
    ("logfmt", "a=1 b=2 c=3",
     "loki_app", "unknown", 0, False, True),
    ("logfmt", "you got it a=1 b= ",
     "loki_app", "unknown", 10, True, True),
    ("logfmt", 'level=info msg="request done" traceID=6a3b2f1c user=svc-account duration=12ms',
     "loki_app", "info", 12, False, True),
    ("nop", "plain unstructured container output line",
     "loki_infra", "unknown", 40, False, True),
    ("nop", "another raw line with no structure at all",
     "loki_infra", "unknown", 41, False, True),
    ("ecs", '{"@timestamp":"2023-06-07T13:08:51+01:00","message":"native ecs entry","log":{"level":"INFO","logger":"app"},"service":{"name":"shop","version":"1.2.3","type":"web","stack":"prod","namespace":"retail"},"host":{"name":"node1","hostname":"node1"},"organization":{"name":"acme"},"environment":{"name":"prod"}}',
     "loki_app", "info", 16, False, False),
    ("ecs", '{"@timestamp":"2022-08-04T09:53:59.620557561Z","message":"trace ping","log":{"level":"debug"},"trace":{"trace":{"id":"t-123"},"span":{"id":"s-9"}}}',
     "loki_app", "debug", 10, False, True),
    ("ecs", "this is not valid ecs json {",
     "loki_app", "fatal", 97, True, True),
]

N_LINES = len(GOLDEN)
TOOLS = [g[0] for g in GOLDEN]
TEXTS = [g[1] for g in GOLDEN]


def sink_counts(hist: np.ndarray) -> dict[str, int]:
    """Unique turns per sink for a line-index histogram."""
    out: dict[str, int] = {}
    for (_, _, sink, *_), n in zip(GOLDEN, hist):
        out[sink] = out.get(sink, 0) + int(n)
    return {k: v for k, v in out.items() if v}


def sink_level_agg(hist: np.ndarray) -> dict[tuple[str, str], tuple[int, int, int]]:
    """(sink, log_level) -> (rows, sum(length(message)), count(timestamp))."""
    out: dict[tuple[str, str], list[int]] = {}
    for (_, _, sink, level, chars, _, _), n in zip(GOLDEN, hist):
        if not n:
            continue
        acc = out.setdefault((sink, level), [0, 0, 0])
        acc[0] += int(n)
        acc[1] += int(n) * chars
        acc[2] += int(n)  # every turn carries a fallback ts
    return {k: tuple(v) for k, v in out.items()}


def error_rows(hist: np.ndarray) -> tuple[int, int]:
    """(rows with a process error, rows with validation errors)."""
    perr = sum(int(n) for g, n in zip(GOLDEN, hist) if g[5])
    verr = sum(int(n) for g, n in zip(GOLDEN, hist) if g[6])
    return perr, verr
