"""Seeded synthetic tweets for the tweet workloads, and the answers the
pipeline must give on them.

Tweet text is cut from the `documents` fixture, so the sentiment and
text-cleaning functions do real work. Hashtags are drawn from a Zipf
law, 1 to 3 per tweet. About a fifth of the tweets have `rt_count` <= 99,
which the streaming listener filter rejects. Each day after the first
re-sends a fixed share of the previous day's records unchanged, as the
reference's lookback re-scan does, and repeats a few of its own rows, so
the idempotent anti-join and the within-batch dedup both remove real
duplicates.

The same seed gives byte-identical files: every draw comes from one
`random.Random(seed)` in a fixed order, and files are written in a fixed
order with fixed modification times.
"""
import collections
import datetime
import json
import os
import random
import re

import pyarrow.parquet as pq

TAGS = 400          # hashtag vocabulary size
ZIPF_S = 1.1        # hashtag popularity exponent
LOW_RT_SHARE = 0.2  # share of tweets the listener filter rejects
RESEND_SHARE = 0.1  # share of a day that re-sends the previous day
REPEAT_SHARE = 0.03  # share of a day repeated within the same file
FIRST_DAY = datetime.date(2024, 3, 1)

_UNSAFE = re.compile(r'[,"\\\r\n]')


def load_texts(documents_parquet):
    """Document texts with the characters a header-less CSV cannot carry
    removed, in doc_id order."""
    t = pq.read_table(documents_parquet, columns=["doc_id", "text"]).to_pylist()
    t.sort(key=lambda r: r["doc_id"])
    return [_UNSAFE.sub(" ", r["text"]) for r in t if r["text"]]


class Tweets:
    def __init__(self, seed, texts):
        self.rng = random.Random(seed)
        self.texts = texts
        self.tags = ["tag%s" % self._word(i) for i in range(TAGS)]
        weights = [1.0 / (k + 1) ** ZIPF_S for k in range(TAGS)]
        acc, self.cum = 0.0, []
        for w in weights:
            acc += w
            self.cum.append(acc)
        self.next_id = 0

    @staticmethod
    def _word(i):
        s = ""
        i += 26
        while i:
            i, r = divmod(i, 26)
            s = chr(97 + r) + s
        return s

    def _text(self):
        words = self.rng.choice(self.texts).split()
        n = self.rng.randint(8, 30)
        start = self.rng.randint(0, max(0, len(words) - n))
        body = " ".join(words[start:start + n]) or "empty"
        r = self.rng.random()
        if r < 0.3:
            body = "RT " + body
        elif r < 0.5:
            body = body + " https://t.co/%06d" % self.rng.randint(0, 999999)
        return body[:280]

    def tweet(self, day, second):
        self.next_id += 1
        i = self.next_id
        ntags = self.rng.randint(1, 3)
        tags = self.rng.choices(self.tags, cum_weights=self.cum, k=ntags)
        rt = (self.rng.randint(0, 99) if self.rng.random() < LOW_RT_SHARE
              else self.rng.randint(100, 5000))
        arrival = datetime.datetime.combine(day, datetime.time()) + \
            datetime.timedelta(seconds=second)
        created = arrival - datetime.timedelta(seconds=self.rng.randint(0, 3600))
        return {
            "record_id": "r%08d" % i,
            "timestamp": arrival.strftime("%Y-%m-%d %H:%M:%S"),
            "created": created.strftime("%Y-%m-%d %H:%M:%S"),
            "tweet_id": "t%08d" % (i * 7 % 100000000),
            "user_name": "u%05d" % self.rng.randint(0, 9999),
            "rt_count": rt,
            "hashtags": " ".join(tags),
            "text": self._text(),
        }

    def days(self, n_days, per_day):
        """`n_days` lists of landing rows; fresh tweets arrive in time
        order, re-sends keep their original arrival time."""
        out, prev = [], []
        for d in range(n_days):
            day = FIRST_DAY + datetime.timedelta(days=d)
            n_resend = int(per_day * RESEND_SHARE) if prev else 0
            n_repeat = int(per_day * REPEAT_SHARE)
            fresh = [self.tweet(day, s * 86000 // per_day)
                     for s in range(per_day - n_resend - n_repeat)]
            rows = fresh + self.rng.sample(prev, n_resend) \
                + self.rng.sample(fresh, n_repeat)
            out.append((day, rows))
            prev = fresh
        return out


def keys(rows):
    """Distinct (record_id, tweet_id, hashtag) keys the staging transform
    keeps: the surrogate key concatenates the three without a separator,
    and the fixed-width ids keep that concatenation unambiguous."""
    return {r["record_id"] + r["tweet_id"] + t
            for r in rows for t in r["hashtags"].split()}


def top10(counts):
    return ["%s:%d" % kv for kv in
            sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:10]]


CSV_FIELDS = ["record_id", "timestamp", "created", "tweet_id", "user_name",
              "rt_count", "hashtags", "text"]


def write_batch(out_dir, seed, texts, n_days, per_day):
    """Landing CSV days and the expected result of each day's cycle."""
    os.makedirs(out_dir, exist_ok=True)
    days = Tweets(seed, texts).days(n_days, per_day)
    seen, counts, expect, nbytes = set(), collections.Counter(), [], 0
    for day, rows in days:
        body = "".join(",".join(str(r[f]) for f in CSV_FIELDS) + "\n"
                       for r in rows).encode()
        with open(os.path.join(out_dir, "%s.csv" % day.isoformat()), "wb") as f:
            f.write(body)
        nbytes += len(body)
        ks = keys(rows)
        new = ks - seen
        seen |= new
        for k in new:
            counts[k[18:]] += 1
        expect.append({"date": day.isoformat(), "staged": len(ks),
                       "inserted": len(new), "top": top10(counts)})
    return {"dir": out_dir, "days": [e["date"] for e in expect],
            "records": sum(len(r) for _, r in days), "bytes": nbytes,
            "expect": expect, "analytical_rows": len(seen),
            "rerun": days[len(days) // 2][0].isoformat()}


def write_stream(out_dir, seed, texts, n_files, per_file):
    """Raw JSON record files, one per micro-batch, with increasing
    modification times so the file source reads them in order."""
    os.makedirs(out_dir, exist_ok=True)
    days = Tweets(seed, texts).days(n_files, per_file)
    passing, nbytes = set(), 0
    base = 1700000000
    for i, (_, rows) in enumerate(days):
        lines = []
        for r in rows:
            payload = {k: r[k] for k in ("created", "tweet_id", "user_name",
                                         "rt_count", "hashtags", "text")}
            lines.append(json.dumps({"record_id": r["record_id"],
                                     "ts": r["timestamp"],
                                     "payload": json.dumps(payload)}))
            if r["rt_count"] > 99:
                passing |= keys([r])
        path = os.path.join(out_dir, "part-%05d.json" % i)
        body = ("\n".join(lines) + "\n").encode()
        with open(path, "wb") as f:
            f.write(body)
        os.utime(path, (base + 10 * i, base + 10 * i))
        nbytes += len(body)
    return {"dir": out_dir, "files": n_files,
            "records": sum(len(r) for _, r in days), "bytes": nbytes,
            "analytical_rows": len(passing)}
