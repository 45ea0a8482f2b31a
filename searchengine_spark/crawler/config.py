"""Crawl configuration (reference utils/config.py:4-19 + README.md:33-55).

The reference reads an ini file (user agent, thread count, save file,
seed urls, politeness ``time_delay``); the rebuild carries the same knobs
as a dataclass plus the distributed-execution knobs the north rule adds
(salts, partitions, bloom sizing, virtual-clock round duration).

The round loop itself has one execution path (frontier.run_round): AQE
and constraint propagation are always off inside a round, hot
intermediates are always lazy localCheckpoints, and their prefetch
counts are always submitted as they are built. Three in-round knobs
remain: ``codegen_in_round`` and ``light_metrics`` (the bench sets both
differently from the default) and ``prefetch_max_queued`` (the
giant-round prefetch cutoff).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class CrawlConfig:
    seeds: list[str] = field(default_factory=list)
    # P4 domain restriction (README.md:209-212; the reference pins
    # *.ics.uci.edu etc — the domain set is config in our engine).
    allowed_host_re: str | None = None

    # ---- politeness (ST2): virtual clock, one round = round_duration
    # virtual seconds; host h may fetch floor(round_duration/delay_h)
    # urls per round (token bucket refilled each round), capped.
    round_duration: float = 4.0
    default_crawl_delay: float = 0.5  # reference POLITENESS time_delay
    max_per_host_per_round: int = 16

    # ---- skew + shuffle (ST3, north rule): explicit repartitioning by
    # (host, salt) between dedup → politeness-group → fetch stages.
    n_salts: int = 4
    n_partitions: int = 8
    # Round-internal partition count follows DATA VOLUME, not cluster
    # width: partitions = clamp(ceil(queued / target), 1, n_partitions).
    # A BFS ramp round of 32 seed urls on a 1000-executor cluster must
    # not fan every light (host,salt) stage into 1000 near-empty tasks
    # (per-task scheduling is the round's fixed cost — measured: the
    # 64k-page/light-body 32-core leg ran 8% faster at 8 partitions
    # than 32); a giant steady-state round keeps full width. Uses the
    # arithmetically-carried queued count (an upper bound on the batch)
    # so sizing costs no extra action; rounds without a carried count
    # (first after init/resume) use full n_partitions. The heavy fetch/
    # extract stage is unaffected — it inherits the corpus's full-width
    # co-partitioning, not the batch's. 0 disables (always full width).
    rows_per_partition_target: int = 4096

    # ---- URL-seen bloom segments (J5 fast path): fixed-size WITHIN a
    # generation so round deltas OR-merge; compaction starts a new
    # generation and may resize (see bloom_target_bits_per_key)
    n_bloom_segments: int = 16
    bloom_m_bits: int = 1 << 17

    # ---- URL-seen backend (north rule: "bloom/cuckoo-filter URL-seen
    # dedup"): "bloom" (insert-only, urlseen.py) or "cuckoo" (deletable
    # fingerprints for recrawl/expiry, cuckooseen.py). Both share one
    # function seam; the generation size param ("m_bits" in the commit
    # manifest) means bloom bits or cuckoo buckets respectively.
    seen_backend: str = "bloom"
    cuckoo_n_buckets: int = 1 << 12

    # ---- host link-graph tracking (default OFF — adds one small
    # aggregate + write per round): when on, each round stages its
    # scraped links aggregated to (src_host, dst_host, n) edges, so a
    # deployment can PageRank the host graph between crawls and reseed
    # frontier priorities (linkrank.host_rank via frontier.
    # reseed_frontier) — OPIC/PageRank-family scheduling, the public
    # upgrade over the reference's insertion-depth priority. Host
    # granularity keeps the table tiny relative to the crawl (10^10
    # urls but ~10^7 hosts) and the rank join broadcastable.
    track_host_graph: bool = False

    # ---- compaction cadence (Iceberg rewrite-data-files): every
    # compact_every rounds the append tables (url_seen, bloom,
    # fingerprints, extracted, metrics) are squashed into one BASE
    # snapshot and superseded files pruned, so per-round read fan-in and
    # bloom blobs-per-segment stay bounded by the cadence instead of
    # growing O(crawl age). 0 disables (tests of raw delta behavior).
    compact_every: int = 8
    # bloom capacity policy: at compaction, if the generation's
    # bits-per-key fell below the target, the bloom is REBUILT from the
    # full url_seen at required_m_bits(...) instead of OR-merged —
    # without this a fixed-size filter saturates (FPR→1) on a long
    # crawl and the fast path silently degenerates to "everything
    # maybe-seen" (never wrong — the exact anti-join is the backstop —
    # but no longer fast).
    bloom_target_bits_per_key: float = 10.0

    # ---- whole-stage codegen inside the round loop (default ON —
    # Spark's default): per-round literals (round_added/round_fetched
    # columns, frontier_score) change the generated source every round,
    # so every heavy stage pays a fresh Janino compile per round. On
    # LIGHT rounds (ramp phases, small-batch benches) that compile tax
    # dominates: 2k-page bench measured ~20% faster interpreted
    # (53.7s → 43.4s median-of-3 with constraints also off). On HEAVY
    # rounds codegen earns its compile back (16k heavy-body: 304s
    # interpreted vs 286s codegen'd) — so the knob defaults ON and the
    # light-body bench workload flips it off explicitly.
    codegen_in_round: bool = True

    # ---- giant-round prefetch cutoff: when the carried QUEUED count
    # exceeds this, the round skips prefetch submissions entirely. The
    # prefetch's value is filling idle executors while the driver
    # plans; on an executor-bound giant round (the 10^10-frontier
    # steady state) there is no idle to fill — the extra jobs race the
    # frontier write for the same lazy localCheckpoints and
    # double-compute them (measured at 64k pages / 32 cores: 70 s/round
    # without prefetch vs 105 s with it). Small driver-bound rounds
    # (the ramp, the 2k-page bench) keep the overlap win. None = never
    # skip.
    prefetch_max_queued: int | None = 16384

    # ---- per-round metrics: full (counts per stage) or light (only the
    # queued-remaining count needed for loop control) — the bench path
    light_metrics: bool = False

    # ---- dedup gates
    ngram_threshold: float = 0.65  # J7 (reference ngrams.py:11)
    ngram_n: int = 3
    trap_threshold: float = 0.85  # J6 (reference link_similarity.py:12)

    # ---- URL-template trap gate (default OFF — beyond-reference; the
    # corpus-level complement of the per-pair J6 gate): every
    # template_gate_every rounds the accumulated frontier URLs are
    # template-censused (operators/urlmining: hex runs → {H}, digit
    # runs → {N}) and (host, template) families backing ≥
    # template_trap_min_urls distinct URLs become a deny list, staged
    # as the tiny overwrite table `trap_templates` and broadcast
    # anti-joined against each round's candidates — so a calendar/
    # session/facet family is throttled by PATTERN after it crosses the
    # budget, instead of admitting 10^6 syntactically-distinct urls one
    # pair-comparison at a time. O(frontier) census cost only on
    # refresh rounds; O(|deny|) broadcast per round otherwise.
    template_gate_every: int = 0  # 0 disables
    template_trap_min_urls: int = 256

    def seen_module(self):
        """The URL-seen backend module (one seam: build_segments /
        merge_segments / filter_new / segment_load / required_m_bits /
        segment_bytes)."""
        if self.seen_backend == "cuckoo":
            from . import cuckooseen

            return cuckooseen
        from . import urlseen

        return urlseen

    @property
    def seen_size0(self) -> int:
        """Initial generation size param for the configured backend."""
        return (
            self.cuckoo_n_buckets
            if self.seen_backend == "cuckoo"
            else self.bloom_m_bits
        )

    def quota(self, crawl_delay: float | None) -> int:
        d = crawl_delay if crawl_delay and crawl_delay > 0 else self.default_crawl_delay
        return max(1, min(self.max_per_host_per_round, int(self.round_duration / d)))


def frontier_score(round_added: int) -> float:
    """Deterministic frontier priority: seeds 1.0, halving per discovery
    depth (score-ordered queue, north rule; BFS-equivalent total order
    with tie-break canon_url asc)."""
    return 2.0 ** (-round_added)
