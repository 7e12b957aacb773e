"""Seeded input generators for the benchmark workloads.

Every generator takes a ``random.Random`` (or a seed) and returns plain
Python rows, so the same seed always yields identical inputs and no
generator starts a thread or touches Spark. Rows match the package's
explicit schemas (``schemas.POSTS_RAW_SCHEMA``, ``COMMENTS_SCHEMA``) and
the harness ``documents`` / ``embeddings`` tables.
"""

from __future__ import annotations

import datetime as dt
import math
import random

UTC = dt.timezone.utc
#: the reference day every generated timestamp lies before; analysis q13
#: anchors its 7-day window here
AS_OF = dt.date(2025, 9, 30)
_T_END = dt.datetime(2025, 9, 30, 23, 59, 59, tzinfo=UTC)

_WORDS = (
    "spark data query join scan table window batch stream value group "
    "order filter merge hash sort key row column line agg part vector "
    "customer fast slow big small reddit post comment score vote user "
    "thread moderator karma award flair"
).split()
#: stopwords of the four languages text_profile's lang-ID counts
_STOP = ("the", "and", "of", "is", "a", "el", "la", "que", "der", "die", "und")


def subreddit_names(n: int) -> list[str]:
    return [f"sub{i:02d}" for i in range(n)]


def _words(rng: random.Random, n: int) -> list[str]:
    return [
        rng.choice(_STOP) if rng.random() < 0.15 else rng.choice(_WORDS)
        for _ in range(n)
    ]


def posts(
    rng: random.Random, subreddits: list[str], per_sub: int, days: int
) -> list[dict]:
    """Raw post records (the connector's 15-field projection), ``per_sub``
    per subreddit, created over the ``days`` days ending at ``AS_OF``."""
    out = []
    span = days * 86400
    for sub in subreddits:
        for i in range(per_sub):
            pid = f"{sub}p{i:06d}"
            title = " ".join(_words(rng, rng.randint(3, 14)))
            if rng.random() < 0.3:
                title = title.capitalize() + rng.choice(("?", "!", " :)", ""))
            selftext = (
                None
                if rng.random() < 0.35
                else " ".join(_words(rng, rng.randint(5, 60)))
            )
            score = int(rng.paretovariate(1.1) * 4) - 6
            out.append(
                {
                    "id": pid,
                    "title": title,
                    "author": (
                        "[deleted]"
                        if rng.random() < 0.05
                        else f"user{rng.randrange(400)}"
                    ),
                    "subreddit": sub,
                    "score": min(score, 50_000),
                    "upvote_ratio": round(rng.uniform(0.3, 1.0), 2),
                    "num_comments": rng.randrange(0, 600),
                    "created_utc": _T_END
                    - dt.timedelta(seconds=rng.randrange(span)),
                    "selftext": selftext,
                    "url": f"https://reddit.example/r/{sub}/{pid}",
                    "is_video": rng.random() < 0.1,
                    "is_original_content": rng.random() < 0.2,
                    "over_18": rng.random() < 0.03,
                    "stickied": rng.random() < 0.02,
                    "locked": rng.random() < 0.02,
                }
            )
    return out


def comments(
    rng: random.Random, post_rows: list[dict], per_post: int
) -> list[dict]:
    """``per_post`` comment records for every post, created after it."""
    out = []
    extracted = dt.datetime(2025, 10, 1, tzinfo=UTC)
    for p in post_rows:
        pid = p["id"]
        for j in range(per_post):
            out.append(
                {
                    "id": f"{pid}c{j:03d}",
                    "post_id": pid,
                    "author": (
                        "[deleted]"
                        if rng.random() < 0.05
                        else f"user{rng.randrange(2000)}"
                    ),
                    "body": " ".join(_words(rng, rng.randint(2, 40))),
                    "score": int(rng.paretovariate(1.5)) - 2,
                    "created_utc": p["created_utc"]
                    + dt.timedelta(seconds=rng.randrange(1, 36_000)),
                    "parent_id": f"t3_{pid}" if j % 3 else f"t1_{pid}c000",
                    "is_submitter": rng.random() < 0.05,
                    "extracted_at": extracted,
                }
            )
    return out


def documents(rng: random.Random, n: int) -> list[dict]:
    """``n`` harness ``documents`` rows: random-word texts where about 5%
    are near-duplicates of an earlier original of 50 words or more (one
    word replaced, word 3-gram Jaccard well above 0.5) and about 3% are
    exact copies up to case and whitespace."""
    texts: list[str] = []
    long_ids: list[int] = []  # originals a near-duplicate may copy
    for i in range(n):
        r = rng.random()
        if long_ids and r < 0.05:
            words = texts[rng.choice(long_ids)].split()
            k = rng.randrange(len(words))
            words[k] = rng.choice([w for w in _WORDS if w != words[k]])
            text = " ".join(words)
        elif texts and r < 0.08:
            text = "  ".join(texts[rng.randrange(len(texts))].split()).upper()
        else:
            text = " ".join(_words(rng, rng.randint(20, 90)))
            if len(text.split()) >= 50:
                long_ids.append(i)
        texts.append(text)
    return [
        {
            "doc_id": i,
            "text": t,
            "lang": rng.choice(("en", "es", "de", "fr", "zh")),
            "source": f"src{i % 10}",
            "n_chars": len(t),
        }
        for i, t in enumerate(texts)
    ]


def embeddings(
    rng: random.Random, n: int, dim: int = 64, clusters: int = 8
) -> list[dict]:
    """``n`` harness ``embeddings`` rows: unit vectors drawn around
    ``clusters`` random centres, so approximate top-k search has
    well-separated neighbourhoods."""
    centres = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(clusters)]
    out = []
    for i in range(n):
        label = rng.randrange(clusters)
        v = [c + rng.gauss(0, 0.25) for c in centres[label]]
        norm = math.sqrt(sum(x * x for x in v))
        out.append(
            {"vec_id": i, "embedding": [x / norm for x in v], "label": label}
        )
    return out
