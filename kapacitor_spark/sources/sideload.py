"""Sideload sources (SURVEY §2.2) — file:// and http(s)://.

The reference's sideload service (/root/reference/services/sideload/
service.go) loads a directory of YAML/JSON key-value files — or ONE
HTTP GET returning the whole cache as JSON (httpSource.UpdateCache,
service.go:262-291) — and serves hierarchical lookups:
``.source('file://dir' | 'http://...')`` +
``.order('t0/{{.t0}}.yml', ...)`` — each order entry is a path template
over the point's tags, walked most-specific-first with first-match-wins
(/root/reference/sideload.go, pipeline/sideload.go:8-37).

Spark mapping: each order level becomes ONE small lookup DataFrame
(filename stem → the file's key-values) loaded once on the driver —
config-sized data, exactly what the reference's in-memory cache holds —
then ``Pipeline.sideload`` broadcasts every level and coalesces
first-match-wins. The fact-table scan stays shuffle-free at any scale.
"""

from __future__ import annotations

import json
import os
import re
from typing import Sequence

import pandas as pd

__all__ = ["load_sideload_levels"]

_TMPL = re.compile(r"\{\{\s*\.(\w+)\s*\}\}")


def _parse_flat_yaml(text: str) -> dict:
    """Minimal flat ``key: scalar`` YAML — the shape the reference's
    sideload fixtures use (nested YAML is not part of the sideload
    contract; values are field/tag scalars)."""
    out: dict = {}
    for line in text.splitlines():
        line = line.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        k, v = line.split(":", 1)
        v = v.strip().strip("'\"")
        if v.lower() in ("true", "false"):
            out[k.strip()] = v.lower() == "true"
            continue
        try:
            out[k.strip()] = int(v)
        except ValueError:
            try:
                out[k.strip()] = float(v)
            except ValueError:
                out[k.strip()] = v
    return out


def _load_file(path: str) -> dict:
    with open(path) as fh:
        text = fh.read()
    if path.endswith(".json"):
        return json.loads(text)
    return _parse_flat_yaml(text)


def _fetch_http_cache(url: str, timeout: float = 10.0) -> dict:
    """GET the sideload cache from an HTTP source — the reference's
    httpSource.UpdateCache (/root/reference/services/sideload/service.go:
    262-291): ONE request returning a JSON object
    ``{rendered-order-path: {key: value}}`` (the whole cache in one
    response; paths use the same relative namespace as file sources).
    Fetched once at compile time on the driver, like the reference's
    in-memory cache — the lookup levels then broadcast as usual."""
    import urllib.request

    req = urllib.request.Request(url, method="GET")
    with urllib.request.urlopen(req, timeout=timeout) as resp:
        data = resp.read()
    values = json.loads(data)
    if not isinstance(values, dict) or not all(
        isinstance(v, dict) for v in values.values()
    ):
        raise ValueError(
            f"sideload HTTP source {url!r} must return a JSON object of "
            "objects (path -> key/values)"
        )
    return values


def load_sideload_levels(
    spark, source: str, order: Sequence[str], timeout: float = 10.0
) -> tuple[list, list[list[str]]]:
    """Resolve a sideload source + order templates into
    ``(lookup DataFrames, key lists)`` for ``Pipeline.sideload``.

    ``source`` is ``file://dir``, ``http(s)://...`` (the reference accepts
    exactly these three schemes, services/sideload/service.go:102), or a
    bare directory path. Each template contributes one level: files (or
    HTTP cache entries) matching the template with ``{{.tag}}`` as the
    wildcard become rows keyed by the matched tag value, columns = union
    of the entries' key-values.
    """
    http_cache = None
    if source.startswith(("http://", "https://")):
        http_cache = _fetch_http_cache(source, timeout=timeout)
        base = ""
    else:
        base = source[len("file://"):] if source.startswith("file://") else source
        if not os.path.isdir(base):
            raise ValueError(f"sideload: source directory {base!r} does not exist")
    lookups, ons = [], []
    for tmpl in order:
        m = _TMPL.search(tmpl)
        if not m:
            raise ValueError(f"sideload order entry has no {{{{.tag}}}}: {tmpl!r}")
        key = m.group(1)
        prefix, suffix = tmpl[: m.start()], tmpl[m.end():]
        rows = []
        if http_cache is not None:
            # cache keys live in the template's relative namespace — match
            # the same prefix/suffix pattern the file walk uses
            for path in sorted(http_cache):
                if not (path.startswith(prefix) and path.endswith(suffix)):
                    continue
                val = path[len(prefix): len(path) - len(suffix)]
                if "/" in val:
                    continue  # wildcard must not span directories
                rows.append({key: val, **http_cache[path]})
        else:
            d = os.path.join(base, os.path.dirname(prefix))
            fprefix = os.path.basename(prefix)
            if os.path.isdir(d):
                for fn in sorted(os.listdir(d)):
                    if not (fn.startswith(fprefix) and fn.endswith(suffix)):
                        continue
                    val = fn[len(fprefix): len(fn) - len(suffix)]
                    rows.append({key: val, **_load_file(os.path.join(d, fn))})
        # a level with no matching entries is an empty lookup: every
        # point falls through to the next level or the .field() default
        lookups.append(
            spark.createDataFrame(pd.DataFrame(rows)) if rows
            else spark.createDataFrame([], f"`{key}` string")
        )
        ons.append([key])
    return lookups, ons
