"""Order-insensitive result fingerprints, computed exactly as the harness
computes them over Spark rows (Fingerprint.scala):

- rows: the row count;
- hash: sum (mod 2^64) over rows of the first 8 bytes of the MD5 of the
  row's canonical text, built from its non-float columns in column-name
  order as `name=value` joined by U+0001;
- floats: per float-valued column (any non-null float or decimal value),
  [sum, sum of |x|, non-null count, weighted sum], compared with a
  tolerance. The weighted sum is the sum of x * w(row), where w(row) in
  [0, 1) is the top 53 bits of the row's hash over 2^53. It ties each
  float value to its row's non-float columns, still without depending
  on row order, so a value given to the wrong row does not match.
"""
import datetime
import decimal
import hashlib

_EPOCH = datetime.datetime(1970, 1, 1)


def _is_float(v):
    return isinstance(v, (float, decimal.Decimal))


def canon(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return str((v - _EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(sorted(canon(k) + ":" + canon(x) for k, x in v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def row_hash(text):
    return int.from_bytes(hashlib.md5(text.encode("utf-8")).digest()[:8], "big")


def row_weight(h):
    return (h >> 11) / float(1 << 53)


def of(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    float_cols = [i for i in order if any(_is_float(r[i]) for r in rows)]
    text_cols = [i for i in order if i not in float_cols]
    h = 0
    hashes = []
    for r in rows:
        text = "\u0001".join(f"{columns[i]}={canon(r[i])}" for i in text_cols)
        hashes.append(row_hash(text))
        h = (h + hashes[-1]) % (1 << 64)
    floats = {}
    for i in float_cols:
        xs = [(float(r[i]), row_weight(rh)) for r, rh in zip(rows, hashes) if r[i] is not None]
        floats[columns[i]] = [sum(x for x, _ in xs), sum(abs(x) for x, _ in xs), len(xs),
                              sum(x * w for x, w in xs)]
    return {"rows": len(rows), "hash": format(h, "x"), "floats": floats}
