# Developer entry points (the reference's justfile:1-24 analog).

.PHONY: verify test oracle oracle-sf01 smoke perf demo tours example-tour all

# The standing gate: tier-1 pytest + oracle replay of every registered
# query (exits nonzero on any red) + driver-contract smoke + both
# perfbench workloads (exit 1 on any wrong answer). This is what "done"
# means for any change. (`make all` is the quicker subset.)
verify: test oracle smoke perf

tours:
	python examples/training_data_tour.py
	python examples/timeseries_tour.py
	python examples/routing_tour.py
	python examples/market_data_tour.py
	python examples/streaming_tour.py

# Numbered single-topic examples (reference examples/NN_*.rs ports — full
# 00-24 parity; 16 is the rate-limit demo renamed for what it shows here).
example-tour:
	python examples/00_tracing.py
	python examples/01_simple_quote.py
	python examples/02_history_merge.py
	python examples/03_search.py
	python examples/04_price_target.py
	python examples/05_options_chain.py
	python examples/06_fundamentals_deep_dive.py
	python examples/07_financial_snapshot.py
	python examples/08_history_resampling.py
	python examples/09_stock_comparison.py
	python examples/10_analyst_recommendations.py
	python examples/11_upcoming_events.py
	python examples/12_per_symbol_priority.py
	python examples/13_fetch_strategies.py
	python examples/14_merge_strategies.py
	python examples/15_routing_policy_exchange_and_strict.py
	python examples/16_rate_limited_middleware.py
	python examples/17_streaming.py
	python examples/18_holders.py
	python examples/19_news.py
	python examples/20_esg.py
	python examples/21_download_builder.py
	python examples/22_multi_quotes.py
	python examples/23_dataframe.py
	python examples/24_quota_middleware.py
	python examples/26_dedup_ingest.py
	python examples/29_multimodal_codecs.py
	python examples/33_training_mix_e2e.py
	python examples/34_crawl_safe_dedup.py

# Tier-1: the default run (slow tests deselected by pytest.ini).
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

oracle:
	python tools/check_oracle.py /root/testdata/sf0.01

# The driver gate runs sf0.01; this replays the whole registry one scale
# up, where rounding-boundary and summation-order divergences actually
# have rows to land on (round 6 caught 2 real ones this way).
oracle-sf01:
	python tools/check_oracle.py /root/testdata/sf0.1

# The benchmark's own helper tests, then one short run of each workload
# that BENCHMARK.json declares (see perfbench/README.md).
perf:
	python3 -m pytest perfbench -q -p no:cacheprovider
	python3 perfbench/run.py --workload point_requests --seed 1 --seconds 25 --trace 0
	python3 perfbench/run.py --workload tick_stream --seed 1 --seconds 25 --trace 0

demo:
	python examples/demo.py

smoke:
	python -c "import importlib; m = importlib.import_module('__spark_entry__'); \
	from borsa_spark.session import get_spark; s = get_spark('smoke'); \
	print('entry rows:', m.entry(s).count())"

all: test oracle
