"""URL canonicalization as a pure column expression — the key of the
dedup operator ``suite/pipeline.url_dedup``.

Rules (the standard crawl-frontier normalization set): drop the
fragment, lowercase scheme and host, strip default ports (443 for
https, 80 for http — each gated on ITS scheme; other schemes keep
their port), default an empty path to "/", remove tracking query
params (utm_*, ref=) and sort the survivors.  Inputs with no
``scheme://`` prefix are passed through unmodified rather than
collapsing to an empty-scheme ``://...`` key.  Everything is JVM
string/array expressions inside whole-stage codegen — no Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def canonical_url(url: Column) -> Column:
    u = F.regexp_replace(url, "#.*$", "")
    scheme = F.lower(F.regexp_extract(u, "^([A-Za-z]+)://", 1))
    host = F.lower(F.regexp_extract(u, "^[A-Za-z]+://([^/?#]+)", 1))
    path = F.regexp_extract(u, "^[A-Za-z]+://[^/?#]+(/[^?#]*)", 1)
    q = F.regexp_extract(u, "\\?([^#]*)", 1)
    kept = F.array_join(
        F.array_sort(
            F.filter(
                F.split(q, "&"),
                lambda x: (F.substring(x, 1, 4) != "utm_")
                & (F.substring(x, 1, 4) != "ref=")
                & (x != ""),
            )
        ),
        "&",
    )
    canon = F.concat(
        scheme,
        F.lit("://"),
        F.when(scheme == "https", F.regexp_replace(host, ":443$", ""))
        .when(scheme == "http", F.regexp_replace(host, ":80$", ""))
        .otherwise(host),
        F.when(path == "", F.lit("/")).otherwise(path),
        F.when(kept == "", F.lit("")).otherwise(F.concat(F.lit("?"), kept)),
    )
    return F.when(scheme == "", url).otherwise(canon)
