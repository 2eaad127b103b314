"""Concurrent multi-crawl waves: the tier entry point and its profile
dimension.

There is one wave plan (plans/wave.py): a tier of k crawls, where a
single crawl is the k = 1 case. `run_wave_multi` is that plan
(`wave.run_tier`); `CrawlJob` runs every wave through it, for `step`
(k = 1) and `step_all` (k = the tier's crawl count). For k > 1 the
per-crawl values ride the broadcast `profiles_to_df` dimension
(PROFILE_SCHEMA, one row per crawl id — SURVEY.md §1.1); for k = 1 they
are literals. See the plans/wave.py docstring for the rule and for the
tier-start status snapshot contract.
"""

from .wave import PROFILE_SCHEMA, profiles_to_df
from .wave import run_tier as run_wave_multi

__all__ = ["PROFILE_SCHEMA", "profiles_to_df", "run_wave_multi"]
