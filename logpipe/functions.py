"""Scalar function layer (SURVEY.md §2.5 'String/date/JSON scalar
functions') — the out_erda plugin's helper functions as columnar
expressions.

- basic_auth_header: base64("user:pass") Authorization value
  (out_erda/helps.go:73-76 + remote.go:70-75). Spark's base64 is
  MIME-chunked (CRLF every 76 chars) unlike Go's StdEncoding, so the
  line breaks are stripped — verified against long credentials.
- host_join_path: URL join matching remote.go:164-166 exactly:
  strings.Trim both ends of BOTH host and path, join with one slash
  (table cases from remote_test.go:65-91).
- rfc3339_timestamp / rfc3339_to_unix_nanos: record-time parsing,
  RFC3339Nano -> timestamp / epoch nanos (helps.go:52-63,
  outerda.go:113; also the docker and CRI tail readers). Accepts 'Z'
  and numeric ±HH:MM offsets, with or without a fraction; unparseable
  inputs yield NULL (try_to_timestamp) rather than killing the job
  under ANSI mode. Spark timestamps hold micros, so nanos beyond micro
  precision truncate (documented deviation: the reference keeps full
  nanos).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def basic_auth_header(user: Column, password: Column) -> Column:
    b64 = F.base64(F.encode(F.concat(user, F.lit(":"), password), "utf-8"))
    return F.concat(F.lit("Basic "), F.regexp_replace(b64, "[\\r\\n]", ""))


def host_join_path(host: Column, path: Column) -> Column:
    trim = lambda c: F.regexp_replace(F.regexp_replace(c, "^/+", ""), "/+$", "")
    return F.concat(trim(host), F.lit("/"), trim(path))


def rfc3339_timestamp(s: Column) -> Column:
    """RFC3339Nano string -> timestamp, nanos truncated to micros. The
    fraction is optional: docker json-file and CRI drop it when the
    nanoseconds are 0. Unparseable input yields NULL."""
    return F.try_to_timestamp(
        F.regexp_replace(s, r"(\.\d{6})\d*", "$1"),
        F.lit("yyyy-MM-dd'T'HH:mm:ss[.SSSSSS]XXX"),
    )


def rfc3339_to_unix_nanos(s: Column) -> Column:
    return F.unix_micros(rfc3339_timestamp(s)) * F.lit(1000)
