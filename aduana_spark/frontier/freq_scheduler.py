"""Revisit-frequency scheduling as an earliest-deadline-first view.

Reference: ``freq_scheduler`` (/root/reference/lib/src/freq_scheduler.c)
keeps a schedule sorted ASC by next-due time; popped pages are
reinserted with ``score += 1/freq`` (freq_scheduler.c:363-371).
Admission filters: positive frequency only (161-162), seeds excluded
(210-212 + page_db.c:437-445), optional max_n_crawls (210-211, 349),
margin gate ``now - last_crawl >= 1/(freq*(1+margin))``
(344-348, semantics freq_scheduler.h:45-53).

Frequency assignment mirrors the Python surface
(aduana/__init__.py:467-607):

- ``load_simple(freq_default, freq_scale)``
  (freq_scheduler_load_simple, freq_scheduler.c:188-219): every
  crawled non-seed page gets ``freq_default``; when ``freq_scale >
  0``, pages with a positive estimated change rate (page_info_rate =
  (n_changes+1)/(last-first)) get ``freq_scale × rate`` instead.
- ``freq_spec`` regex rules: first matching rule wins, anchored like
  ``re.match`` (__init__.py:583-607); a rule is
  (regex, multiplier-or-fixed-interval).
- optional ``freq_min``/``freq_max`` clipping (this engine's
  extension) applies only to assigned positive frequencies.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aduana_spark.frontier.page_info import PageDB, crawl_rate_col, is_seed_col


@dataclass
class FreqRule:
    pattern: str
    #: multiply the page's estimated change rate…
    rate_multiplier: float | None = None
    #: …or revisit every `fixed_interval` seconds
    fixed_interval: float | None = None

    def freq_col(self) -> F.Column:
        if self.rate_multiplier is not None:
            # mult × estimated rate, unclamped (aduana/__init__.py:618):
            # the -1.0 no-rate sentinel yields a negative freq that the
            # freq > 0 admission filter then drops, exactly like
            # freq_scheduler_cursor_write (freq_scheduler.c:161-162)
            return F.lit(self.rate_multiplier) * crawl_rate_col()
        return F.lit(1.0 / self.fixed_interval)


def freq_spec(rules: list[FreqRule]) -> F.Column:
    """First-match-wins regex rule cascade (J6, __init__.py:583-607).
    The reference matches with ``re.match`` — anchored at the string
    start — so each pattern is wrapped in ``^(?:...)``; unmatched URLs
    stay NULL and are excluded from revisit scheduling entirely."""
    expr = F.lit(None).cast("double")
    for rule in reversed(rules):
        anchored = f"^(?:{rule.pattern})"
        expr = F.when(F.col("url").rlike(anchored), rule.freq_col()).otherwise(expr)
    return expr


def build_freq_table(
    page_info: DataFrame,
    rules: list[FreqRule] | None = None,
    freq_default: float = 0.1,
    freq_scale: float | None = None,
    freq_min: float | None = None,
    freq_max: float | None = None,
    max_n_crawls: int | None = None,
) -> DataFrame:
    """(url, freq, last_crawl) for pages admitted to revisit
    scheduling.

    Frequency assignment, in precedence order:

    - ``rules``: first-match-wins regex cascade (rule-unmatched pages
      get NULL and are excluded),
    - ``freq_scale``: ``freq_scheduler_load_simple`` semantics
      (freq_scheduler.c:188-219) — every page gets ``freq_default``,
      except pages with a positive estimated change rate get
      ``freq_scale * rate`` when ``freq_scale > 0``,
    - neither: the page's own estimated rate when it has one (i.e.
      ``freq_scale = 1``), else ``freq_default``.

    ``freq_min``/``freq_max`` clip only assigned, positive
    frequencies — NULL (rule-unmatched) and non-positive (no-rate
    sentinel) frequencies pass through unclipped so the ``freq > 0``
    admission filter still drops them, as the reference does.
    """
    crawled = page_info.where(F.col("n_crawls") > 0).where(~is_seed_col("url"))
    if max_n_crawls is not None and max_n_crawls > 0:
        # F6 (freq_scheduler.c:210-211, 349)
        crawled = crawled.where(F.col("n_crawls") < max_n_crawls)
    est = crawl_rate_col()
    if rules:
        freq = freq_spec(rules)
    elif freq_scale is not None:
        if freq_scale > 0:
            freq = F.when(est > 0, F.lit(freq_scale) * est).otherwise(
                F.lit(freq_default)
            )
        else:
            freq = F.lit(freq_default)
    else:
        freq = F.when(
            (F.col("n_crawls") >= 2) & (est > 0), est
        ).otherwise(F.lit(freq_default))
    clippable = freq.isNotNull() & (freq > 0)
    if freq_min is not None:
        freq = F.when(clippable, F.greatest(freq, F.lit(freq_min))).otherwise(freq)
    if freq_max is not None:
        freq = F.when(clippable, F.least(freq, F.lit(freq_max))).otherwise(freq)
    out = crawled.select("url", freq.alias("freq"), "last_crawl")
    # F8: drop non-positive frequencies (freq_scheduler.c:161-162)
    return out.where(F.col("freq") > 0)


def next_due_view(
    freq_table: DataFrame,
    n: int,
    now: float,
    margin: float = 0.1,
) -> DataFrame:
    """T3: earliest-deadline-first top-n of pages due for a revisit.

    next_due = last_crawl + 1/freq; the margin gate skips pages
    crawled more recently than 1/(freq*(1+margin))
    (freq_scheduler.c:344-348)."""
    due = freq_table.select(
        "url",
        "freq",
        (F.unix_timestamp("last_crawl") + 1.0 / F.col("freq")).alias("next_due"),
    )
    gate = F.lit(now) - F.unix_timestamp("last_crawl") >= 1.0 / (
        F.col("freq") * (1.0 + F.lit(margin))
    )
    return (
        due.where(gate)
        .orderBy(F.col("next_due").asc(), F.xxhash64("url").asc())
        .limit(n)
        .select("url", "freq", "next_due")
    )


def parse_freq_spec(lines: list[str]) -> list[FreqRule]:
    """Text rule format of aduana.freq_spec
    (/root/reference/aduana/__init__.py:583-607): one rule per line,
    ``<regex> <action>`` where action ``xN`` multiplies the page's
    estimated change rate by N and a bare number is a fixed revisit
    interval in seconds. First matching rule wins."""
    rules: list[FreqRule] = []
    for line in lines:
        cols = line.split()
        if len(cols) != 2:
            continue
        pattern, action = cols
        if action.startswith("x"):
            rules.append(FreqRule(pattern, rate_multiplier=float(action[1:])))
        else:
            rules.append(FreqRule(pattern, fixed_interval=float(action)))
    return rules


class FreqSchedulerView:
    """API-parity facade of ``aduana.FreqScheduler``
    (/root/reference/aduana/__init__.py:467-581) over the view engine.

    The reference keeps an LMDB schedule keyed (score, hash) where the
    score starts at 0 and each serve re-inserts the page with
    ``score += 1/freq`` (freq_scheduler.c:363-371); requests stop at
    the first page crawled more recently than ``1/(freq·(1+margin))``
    when ``margin >= 0``. Here the schedule is driver-side heap state
    (it is pure control flow, like the reference's cursor loop —
    O(requests) entries), while frequency assignment and page state
    are Spark jobs over the page-info table of ``page_db`` (the
    PageDB passed in, or a new one). URLs replace the
    reference's 64-bit page hashes as schedule identities (same
    substitution as the rest of the engine; hashing is a Spark-side
    column, functions/urls.py).

    **Scale boundary**: this facade materializes the whole freq table
    into a driver-side dict — faithful to the reference's in-memory
    LMDB schedule and right for its interactive single-crawler use,
    but NOT the 10^12-row path. ``_load_table`` refuses above
    ``max_facade_rows`` (default 1M, ~100 MB of driver heap); at
    scale, call :func:`build_freq_table` + :func:`next_due_view`
    directly — the fully distributed EDF top-n (one bounded
    TakeOrdered job, no driver materialization), which is what
    ``Backend``-style batch pipelines should use.
    """

    #: refusal threshold for the driver-side schedule dict; raise it
    #: deliberately if your driver heap allows, or use next_due_view
    max_facade_rows: int = 1_000_000

    def __init__(self, spark, page_db: PageDB | None = None):
        self.spark = spark
        self.page_db = page_db if page_db is not None else PageDB(spark)
        #: freq_scheduler.h:45-53 — negative disables the margin gate
        self.margin: float = -1.0
        #: 0 = unlimited (freq_scheduler.c:210-211)
        self.max_n_crawls: int = 0
        # schedule: url -> [score, freq]; served in (score, url) order
        self._schedule: dict[str, list[float]] = {}

    @classmethod
    def from_settings(cls, spark, settings: dict, page_db: PageDB | None = None):
        """Settings surface of FreqScheduler.from_settings
        (aduana/__init__.py:501-523): MAX_N_CRAWLS, FREQ_SPEC (text
        rules or iterable of lines), FREQ_DEFAULT (0.1),
        FREQ_SCALE (-1.0), FREQ_MARGIN (-1.0)."""
        sch = cls(spark, page_db=page_db)
        max_n_crawls = settings.get("MAX_N_CRAWLS", None)
        if max_n_crawls:
            sch.max_n_crawls = max_n_crawls
        spec = settings.get("FREQ_SPEC", None)
        if spec:
            if isinstance(spec, str):
                with open(spec) as fh:
                    lines = fh.read().splitlines()
            else:
                lines = list(spec)
            sch.load_rules(parse_freq_spec(lines))
        else:
            sch.load_simple(
                settings.get("FREQ_DEFAULT", 0.1), settings.get("FREQ_SCALE", -1.0)
            )
        sch.margin = settings.get("FREQ_MARGIN", -1.0)
        return sch

    # ---- loading ---------------------------------------------------------

    def _load_table(self, freq_table: DataFrame) -> None:
        # scale guard: ONE bounded collect (limit max_facade_rows + 1)
        # both caps driver memory and detects facade-at-scale misuse —
        # fail fast with a pointer to the distributed path instead of
        # OOMing the driver, without a separate probe job
        rows = (
            freq_table.select("url", "freq")
            .limit(self.max_facade_rows + 1)
            .collect()
        )
        if len(rows) > self.max_facade_rows:
            raise ValueError(
                f"freq table exceeds max_facade_rows={self.max_facade_rows}: "
                "FreqSchedulerView is the driver-side aduana-parity facade; "
                "use build_freq_table() + next_due_view() (the distributed "
                "EDF path) at this scale, or raise max_facade_rows if your "
                "driver heap genuinely allows it"
            )
        for r in rows:
            if r["freq"] is not None and r["freq"] > 0:
                self._schedule[r["url"]] = [0.0, float(r["freq"])]

    def load_simple(self, freq_default: float = 1.0, freq_scale: float | None = None) -> None:
        """freq_scheduler_load_simple (freq_scheduler.c:188-219):
        freq = freq_default, or freq_scale × rate for pages with a
        positive estimated change rate when freq_scale > 0."""
        self._load_table(
            build_freq_table(
                self.page_db.page_info,
                freq_default=freq_default,
                freq_scale=freq_scale if freq_scale is not None else -1.0,
                max_n_crawls=self.max_n_crawls or None,
            )
        )

    def load_rules(self, rules: list[FreqRule]) -> None:
        """FREQ_SPEC path: first-match-wins regex rules."""
        self._load_table(
            build_freq_table(
                self.page_db.page_info,
                rules=rules,
                max_n_crawls=self.max_n_crawls or None,
            )
        )

    def load(self, freq_iter) -> None:
        """freq_scheduler_cursor_write loop (aduana load(),
        __init__.py:538-555): (url, freq) pairs; freq <= 0 skipped."""
        for url, freq in freq_iter:
            if freq is not None and freq > 0:
                self._schedule[url] = [0.0, float(freq)]

    def add(self, batch: DataFrame) -> None:
        """freq_scheduler_add → page_db_add: merge a crawl batch into
        the page-info table and append its links to the edge log
        (schedule entries come from load_*, which reads the updated
        state — the reference separates the two the same way)."""
        self.page_db.add_batch(batch)

    # ---- serving ---------------------------------------------------------

    def requests(self, n: int, now: float) -> list[str]:
        """freq_scheduler_request (freq_scheduler.c:302-399): pop up to
        n pages in (score, url) order, reinserting each served page
        with score += 1/freq. The margin gate interrupts the whole
        request at the first page crawled within
        ``1/(freq·(1+margin))`` seconds; max_n_crawls drops pages
        permanently at pop time."""
        import heapq

        if not self._schedule:
            return []
        # Semi-join page_info to the schedule's URLs before collecting:
        # the max_facade_rows guard bounds the SCHEDULE, but page_info
        # can be arbitrarily larger (a big crawl behind a small
        # schedule) — collecting it whole would OOM the driver. The
        # schedule is driver-side and bounded, so it broadcasts; only
        # matching page rows ever reach the driver (≤ len(_schedule)).
        sched_urls = self.spark.createDataFrame(
            [(u,) for u in self._schedule], "url STRING"
        )
        state = {
            r["url"]: (
                r["last_crawl"].timestamp() if r["last_crawl"] else None,
                r["n_crawls"],
            )
            for r in self.page_db.page_info.select("url", "last_crawl", "n_crawls")
            .join(F.broadcast(sched_urls), "url", "leftsemi")
            .collect()
        }
        heap = [(sc, url, fq) for url, (sc, fq) in self._schedule.items()]
        heapq.heapify(heap)
        out: list[str] = []
        while heap and len(out) < n:
            score, url, freq = heapq.heappop(heap)
            if url not in state:
                # freq_scheduler_request deletes entries whose PageInfo
                # lookup returns NULL without serving them
                # (freq_scheduler.c:335-372, pi == NULL path)
                self._schedule.pop(url, None)
                continue
            last_crawl, n_crawls = state[url]
            if self.margin >= 0 and last_crawl is not None:
                if now - last_crawl < 1.0 / (freq * (1.0 + self.margin)):
                    heapq.heappush(heap, (score, url, freq))
                    break  # interrupt_requests (freq_scheduler.c:344-348)
            if self.max_n_crawls and n_crawls >= self.max_n_crawls:
                del self._schedule[url]  # deleted, not reinserted
                continue
            out.append(url)
            self._schedule[url][0] = score + 1.0 / freq
            heapq.heappush(heap, (score + 1.0 / freq, url, freq))
        return out


def simulate_serving(
    freq_table: DataFrame,
    t_start: float,
    t_end: float,
    batch: int = 4,
    margin: float = 0.1,
    max_rows: int | None = 1_000_000,
) -> dict[str, int]:
    """EDF serving-loop simulation (mirrors the reference's
    statistical test, test/test_freq_scheduler.py:6-55): repeatedly
    pop due pages and reinsert with ``next_due += 1/freq``
    (freq_scheduler.c:363-371). Driver loop over the view; serve
    counts over [t_start, t_end) should approach
    ``(t_end - t_start) * freq`` per page.

    State (url, freq, next_due) is kept as plain Python — the loop is
    control flow, exactly like the reference's cursor loop; the heavy
    lifting (building freq_table from page state) is the Spark part.

    ``max_rows`` bounds that one driver collect: a freq table with
    more rows raises ``ValueError``. Pass ``max_rows=None`` to collect
    a larger table on purpose.
    """
    import heapq

    # Same driver-memory guard as FreqSchedulerView._load_table: the
    # simulation state lives on the driver by design (the loop IS the
    # semantics), so bound the one collect instead of OOMing on a
    # facade-at-scale misuse. max_rows=None disables the guard.
    src = freq_table.select("url", "freq", "last_crawl")
    if max_rows is not None:
        rows = src.limit(max_rows + 1).collect()
        if len(rows) > max_rows:
            raise ValueError(
                f"freq table exceeds max_rows={max_rows}: simulate_serving "
                "is a driver-side simulation; use next_due_view() (the "
                "distributed EDF path) at this scale, or raise max_rows"
            )
    else:
        rows = src.collect()
    heap = [
        (
            (r["last_crawl"].timestamp() if r["last_crawl"] else t_start)
            + 1.0 / r["freq"],
            r["url"],
            float(r["freq"]),
        )
        for r in rows
    ]
    heapq.heapify(heap)
    served: dict[str, int] = {}
    while heap:
        due, url, freq = heapq.heappop(heap)
        if due >= t_end:
            break
        served[url] = served.get(url, 0) + 1
        heapq.heappush(heap, (due + 1.0 / freq, url, freq))
    return served
