"""A closed-loop client of the /v1/statement protocol, as the CLI and JDBC
drive it: POST the statement, then GET each nextUri until a response
carries none."""
import decimal
import http.client
import json
import time
from urllib.parse import urlsplit


class Result:
    __slots__ = ("sql", "kind", "start", "end", "columns", "rows", "error",
                 "query_id", "submit_ms", "get_ms", "empty_polls", "queued_ms", "traced",
                 "spans", "ok", "extra")

    def __init__(self, sql, kind):
        self.sql, self.kind = sql, kind
        self.columns, self.rows, self.error, self.query_id = [], [], None, None
        self.get_ms, self.spans = [], []
        self.empty_polls, self.queued_ms, self.submit_ms = 0, None, 0.0
        self.traced, self.ok, self.extra = False, None, None

    @property
    def latency_s(self):
        return self.end - self.start


class Client:
    def __init__(self, port, user="perfbench"):
        self.headers = {"X-Presto-User": user, "X-Presto-Source": "perfbench",
                        "Content-Type": "text/plain; charset=utf-8"}
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)

    def _request(self, method, path, body=None):
        self.conn.request(method, path, body=body, headers=self.headers)
        resp = self.conn.getresponse()
        return resp.status, resp.read()

    def run(self, sql, kind, trace=False):
        r = Result(sql, kind)
        r.traced = trace
        r.start = time.time()
        t = time.perf_counter()
        path, method, body = "/v1/statement", "POST", sql.encode("utf-8")
        try:
            while True:
                c0 = time.time()
                status, data = self._request(method, path, body)
                c1 = time.time()
                if trace:
                    r.spans.append((method, c0, c1))
                # decimals keep their scale; doubles are converted per column
                doc = json.loads(data, parse_float=decimal.Decimal)
                if method == "POST":
                    r.submit_ms = (c1 - c0) * 1000
                else:
                    r.get_ms.append((c1 - c0) * 1000)
                if status != 200:
                    r.error = f"HTTP {status}: {data[:300]!r}"
                    break
                r.query_id = doc.get("id", r.query_id)
                state = doc.get("stats", {}).get("state")
                if r.queued_ms is None and state not in (None, "QUEUED"):
                    r.queued_ms = (time.perf_counter() - t) * 1000
                if "columns" in doc and not r.columns:
                    r.columns = [(c["name"], c["type"]) for c in doc["columns"]]
                if "error" in doc:
                    r.error = str(doc["error"].get("message", doc["error"]))[:500]
                    break
                rows = doc.get("data")
                if rows:
                    r.rows.extend(rows)
                nxt = doc.get("nextUri")
                if not nxt:
                    break
                if method == "GET" and not rows:
                    r.empty_polls += 1
                path, method, body = urlsplit(nxt).path, "GET", None
        except Exception as e:  # a broken statement is a failed statement
            r.error = f"{type(e).__name__}: {e}"
        r.end = time.time()
        if r.queued_ms is None:
            r.queued_ms = (r.end - r.start) * 1000
        return r

    def close(self):
        self.conn.close()
