"""Seed-driven inputs for the benchmark workloads.

Everything here is a pure function of the seed and the sizes below, so
the same seed always yields byte-identical inputs. Nothing in this file
calls into ``etl_spark``: the program only ever sees what these
generators produce.
"""

from __future__ import annotations

import datetime
import json
import pathlib
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- curation corpus (half the size of the sf0.1 documents/embeddings) --

N_DOCS = 2500
N_VECS = 1000
EMBED_DIM = 64
# The sf0.1 documents table draws from this 31-word vocabulary, 10-100
# tokens per document; a small vocabulary is what gives the shingle
# index its shared (hot) shingles.
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (0.41, 0.15, 0.15, 0.15, 0.14)
EXACT_DUP_SHARE = 0.002
NEAR_DUP_SHARE = 0.02


def write_corpus(seed: int, sf_dir: pathlib.Path) -> dict[str, int]:
    """Write ``documents.parquet`` and ``embeddings.parquet`` (the two
    tables the curation queries read) under ``sf_dir``."""
    rng = np.random.default_rng([seed, 1])
    sf_dir.mkdir(parents=True, exist_ok=True)
    texts: list[str] = []
    for i in range(N_DOCS):
        roll = rng.random()
        if i and roll < EXACT_DUP_SHARE:
            text = texts[int(rng.integers(i))]
        elif i and roll < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            toks = texts[int(rng.integers(i))].split(" ")
            toks[int(rng.integers(len(toks)))] = "dup"
            text = " ".join(toks)
        else:
            n = int(rng.integers(10, 101))
            text = " ".join(VOCAB[j] for j in rng.integers(len(VOCAB), size=n))
        texts.append(text)
    langs = rng.choice(len(LANGS), size=N_DOCS, p=LANG_WEIGHTS)
    docs = pa.table(
        {
            "doc_id": pa.array(range(N_DOCS), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[j] for j in langs], pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(docs, sf_dir / "documents.parquet")

    vecs = rng.normal(size=(N_VECS, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": pa.array(range(N_VECS), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(10, size=N_VECS), pa.int32()),
        }
    )
    pq.write_table(emb, sf_dir / "embeddings.parquet")
    return {"documents": N_DOCS, "embeddings": N_VECS}


# --- snapshot raw zone --------------------------------------------------

N_REPOS = 5
N_EXTRACTIONS = 5  # landed in setup; each pass lands one more
NEW_RUNS_PER_EXTRACTION = 4  # per repo
REOBSERVED_SHARE = 0.5  # of a repo's still-open runs, per extraction
RUNS_PAGE_SIZE = 3  # fake API page size, so run listings paginate
FAIL_PROB = 0.15  # per GET, transient 503
MAX_CONSECUTIVE_FAILS = 2  # below RetryingSession's 3 retries
# First run id per repo: chosen so consecutive ids cross 9->10,
# 99->100 and 999->1000, which makes the "9.json" > "10.json" file
# name tiebreak decide the export order.
RUN_ID_BASES = (7, 97, 998, 5, 95)
BASE_TIME = datetime.datetime(2025, 3, 1, 6, 0, 0, tzinfo=datetime.timezone.utc)
WORKFLOWS = ("CI", "Nightly Build", "Release", "Docs")
_OPEN = ("queued", "in_progress")
_CONCLUSIONS = ("success", "failure", "cancelled")


def extraction_time(e: int) -> datetime.datetime:
    return BASE_TIME + datetime.timedelta(hours=e)


def repo_names() -> list[str]:
    return [f"repo_{k:02d}" for k in range(N_REPOS)]


def zone_extractions(seed: int) -> list[dict[str, list[dict]]]:
    """Run listings per extraction: ``out[e][repo]`` is the list of run
    dicts the API returns for repo at extraction ``e`` (0..N_EXTRACTIONS,
    the last one being the extraction each timed pass lands)."""
    rng = random.Random(seed * 7919 + 17)
    out: list[dict[str, list[dict]]] = []
    state: dict[str, dict[int, dict]] = {r: {} for r in repo_names()}
    next_id = {r: RUN_ID_BASES[k] for k, r in enumerate(repo_names())}
    for e in range(N_EXTRACTIONS + 1):
        now = extraction_time(e)
        listing: dict[str, list[dict]] = {}
        for repo in repo_names():
            runs = state[repo]
            observed = []
            for rid in sorted(runs):
                run = runs[rid]
                if run["status"] == "completed" or rng.random() >= REOBSERVED_SHARE:
                    continue
                if run["status"] == "queued":
                    run["status"] = "in_progress"
                    run["run_started_at"] = _iso(now - datetime.timedelta(minutes=rng.randint(1, 50)))
                else:
                    run["status"] = "completed"
                    run["conclusion"] = rng.choice(_CONCLUSIONS)
                run["updated_at"] = _iso(now)
                observed.append(dict(run))
            for _ in range(NEW_RUNS_PER_EXTRACTION):
                rid = next_id[repo]
                next_id[repo] += 1
                created = _iso(now - datetime.timedelta(minutes=rng.randint(1, 59)))
                status = rng.choice(_OPEN + ("completed",))
                run = {
                    "id": rid,
                    "name": rng.choice(WORKFLOWS),
                    "head_sha": f"{rng.getrandbits(40):010x}",
                    "status": status,
                    "conclusion": rng.choice(_CONCLUSIONS) if status == "completed" else None,
                    "created_at": created,
                    "updated_at": created,
                    "run_started_at": created,
                    "repository": {"name": repo},
                    "run_attempt": 1,
                }
                runs[rid] = run
                observed.append(dict(run))
            rng.shuffle(observed)
            listing[repo] = observed
        out.append(listing)
    return out


def _iso(t: datetime.datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def write_zone(
    extractions: list[dict[str, list[dict]]], zone: pathlib.Path, upto: int
) -> int:
    """Land extractions ``0..upto-1`` in the raw-zone layout directly
    (one JSON file per run); returns the number of run files."""
    n = 0
    for e in range(upto):
        ts = extraction_time(e).strftime("%Y%m%d-%H%M%SZ")
        for repo, runs in extractions[e].items():
            d = zone / repo / ts / "runs"
            d.mkdir(parents=True, exist_ok=True)
            for run in runs:
                (d / f"{run['id']}.json").write_text(json.dumps(run))
                n += 1
    return n


def expected_csv(extractions: list[dict[str, list[dict]]], upto: int) -> str:
    """The export, computed the reference way: repos ascending, each
    repo's extractions newest first, run files in descending file-name
    order within one extraction, first sighting of a file name wins."""
    header = "id,repo,name,head_sha,status,conclusion,created_at,updated_at,run_started_at"
    lines = [header]
    for repo in sorted(repo_names()):
        seen: set[str] = set()
        for e in reversed(range(upto)):
            runs = {f"{r['id']}.json": r for r in extractions[e][repo]}
            for fname in sorted(runs, reverse=True):
                if fname in seen:
                    continue
                seen.add(fname)
                r = runs[fname]
                lines.append(
                    ",".join(
                        "" if v is None else str(v)
                        for v in (
                            r["id"], r["repository"]["name"], r["name"], r["head_sha"],
                            r["status"], r["conclusion"], r["created_at"],
                            r["updated_at"], r["run_started_at"],
                        )
                    )
                )
    return "\n".join(lines) + "\n"


class FakeResponse:
    def __init__(self, url: str, status: int, payload=None, next_url: str | None = None):
        self.url = url
        self.status_code = status
        self._payload = payload
        self.text = json.dumps(payload) if payload is not None else ""
        self.links = {"next": {"url": next_url}} if next_url else {}

    def json(self):
        return self._payload

    def raise_for_status(self) -> None:
        if self.status_code >= 400:
            raise RuntimeError(f"{self.status_code} Server Error for url: {self.url}")


class FakeApi:
    """In-memory stand-in for the org's REST API: serves one
    extraction's repo list and paginated run listings, failing a seeded
    share of GETs with a transient 503 (never more than
    MAX_CONSECUTIVE_FAILS in a row for one URL, so retries succeed)."""

    def __init__(self, listing: dict[str, list[dict]], seed: int) -> None:
        self.listing = listing
        self.seed = seed
        self.reset()

    def reset(self) -> None:
        self.rng = random.Random(self.seed * 31 + 5)
        self.fails: dict[str, int] = {}
        self.gets = 0
        self.errors = 0

    def get(self, url: str) -> FakeResponse:
        self.gets += 1
        if self.fails.get(url, 0) < MAX_CONSECUTIVE_FAILS and self.rng.random() < FAIL_PROB:
            self.fails[url] = self.fails.get(url, 0) + 1
            self.errors += 1
            return FakeResponse(url, 503)
        self.fails[url] = 0
        path, _, query = url.partition("?")
        page = int(query.split("=")[1]) if query.startswith("page=") else 1
        if path.endswith("/repos") and "/orgs/" in path:
            return FakeResponse(url, 200, [{"name": r} for r in self.listing])
        repo = path.split("/")[-3]
        runs = self.listing[repo]
        lo = (page - 1) * RUNS_PAGE_SIZE
        chunk = runs[lo : lo + RUNS_PAGE_SIZE]
        nxt = f"{path}?page={page + 1}" if lo + RUNS_PAGE_SIZE < len(runs) else None
        return FakeResponse(url, 200, {"total_count": len(runs), "workflow_runs": chunk}, nxt)
