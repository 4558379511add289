"""Reference-conformance pins: the reference's OWN .sql test files (verbatim,
tests/queries/2_vector_search/) run through ch_script and their printed
output matches the recorded .reference TSV (tools/conformance.py harness —
typed compare, Float32-grain tolerance, `-- { serverError }` annotations
honored).

Pinned = files that fully PASS today; the sweep tool covers the rest. The
flagship is 00040_mqvs_hybrid_search.sql: 65 statements — DDL with inline
fts INDEX, map/array/binary columns, textsearch/hybridsearch SQL forms,
expected-error checks — 74 output rows bit-matching, including RSF/RRF
fusion scores (squared-L2 dense leg, per-leg k candidates) and BM25 scores.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

REF_DIR = "/root/reference/tests/queries/2_vector_search"

#: files that must PASS end-to-end (kept to the fast ones + the flagship;
#: the full sweep lives in tools/conformance.py)
PINNED = [
    "00014_mqvs_distance_cosine_bruteforce.sql",
    "00020_mqvs_refactor_support_prewhere_where.sql",
    "00025_mqvs_distance_with_subquery.sql",
    "00027_mqvs_check_order_by_for_metric_type.sql",
    "00030_mqvs_skip_check_order_direction_for_distributed.sql",
    "00032_mqvs_lightweight_delete_small_ranges.sql",
    "00036_mqvs_with_clause_process_function.sql",
    "00040_mqvs_hybrid_search.sql",
    # r5 conformance-parity batch: LWD _row_exists mask + fts part coverage,
    # scalar-subquery args, join-pushdown search, per-part fusion, build
    # failure statuses, the small-part brute-force gate
    "00017_mqvs_lightweight_delete_with_decouple.sql",
    "00019_mqvs_replicated_add_fail_status_in_vector_indices.sql",
    "00037_mqvs_multiple_fix_non_exist_vector_column.sql",
    "00038_mqvs_brute_force_setting.sql",
    "00040_mqvs_hybrid_search_with_lwd.sql",
    "00040_mqvs_hybrid_search_with_subquery.sql",
    "00040_mqvs_hybrid_search_on_right_joined_table.sql",
    "00041_mqvs_text_search_multiple_parts.sql",
    "00034_mqvs_replicated_single_replica_build_index.sql",
    "00033_mqvs_incorrect_index_status.sql",
    # r7: registry-lifecycle parity (re-add after DROP, resolved default
    # type display, decoupled-part slow rebuild vs plain-part sleep tick)
    "00037_mqvs_multiple_build_status.sql",
    "00037_mqvs_replicated_multiple_build_status.sql",
    "00041_mqvs_support_create_default_index.sql",
    "00037_mqvs_multiple_lwd.sql",
    # r8: VIEventLog cache/load lifecycle (build read-back residency,
    # DETACH CacheExpire, post-ATTACH query load, DROP cleanup, TRUNCATE
    # clear, INSERT rebuild-on-new-part)
    "00030_mqvs_vector_event_log.sql",
    # r8: MergeTree part-naming lineage (block allocation, mutation
    # suffixes, merge levels) + per-part segment states LOADED/BUILT/
    # PENDING, decouple vs rebuild policy, SYSTEM STOP/START BUILD,
    # zookeeper vidx_info node (table_ddl part tracker)
    "00031_mqvs_vector_index_segments.sql",
    "00032_mqvs_vector_index_autoload.sql",
    "00034_mqvs_enable_decouple_data_part.sql",
    "00037_mqvs_support_multiple_vector_indices.sql",
    "00037_mqvs_replicated_support_multiple_vector_indices.sql",
    "00037_mqvs_select_multiple_vector_indices.sql",
    # r8: merge gate (OPTIMIZE refuses while an index build is in flight),
    # real part names in system.parts, big-table builds outliving sleep
    # polls (build_slow — 500k-row MSTG/HNSW builds stay InProgress);
    # 00037_mqvs_multiple_drop_vector_index also passes but materializes a
    # 500k x 768 x 2 insert (~8 min) — covered by the sweep, not pinned
    "00022_mqvs_replicated_merge_with_vector_index.sql",
    "00020_mqvs_replicated_drop_vector_index_and_drop_table.sql",
    "00037_mqvs_replicated_multiple_drop_vector_index.sql",
    # r8: live replica views, FORMAT Vertical replay, SHOW CREATE parity,
    # decoupled-merge-over-mutations permanent InProgress (rebuild_never)
    "00015_mqvs_create_vector_index.sql",
    "00017_mqvs_replicated_lightweight_delete_with_decouple.sql",
    # r7: EXPLAIN AST (0_stateless pin — echoOn protocol + both optimize
    # modes; the harness path prefix routes it to its own directory)
    "../0_stateless/02353_explain_ast_optimize.sql",
    # r8: EXPLAIN AST beyond the flat SELECT (tuple literals, INSERT,
    # ALTER DELETE + CREATE FUNCTION lambdas, bare-AST clientError)
    "../0_stateless/01840_tupleElement_formatting_fuzzer.sql",
    "../0_stateless/02504_explain_ast_insert.sql",
    "../0_stateless/01604_explain_ast_of_nonselect_query.sql",
    # r8: the full INTERPOLATE matrix verbatim (19 stmts, 246 rows) —
    # const / carry / expr folds, previous-output-row column refs incl.
    # columns outside the select list, sub-select fills, aggregates,
    # Nullable defaults, four expected-error validations
    "../0_stateless/02233_interpolate_1.sql",
    # r7 SELECT-surface batch: LIMIT [off,] n BY forms incl. no-ORDER-BY
    # input-order semantics, constant/aliased/nondeterministic BY items,
    # nested-subquery LIMIT BY, system.one, CREATE TEMPORARY TABLE,
    # replaceRegexpOne first-match-only
    "../0_stateless/00939_limit_by_offset.sql",
    "../0_stateless/00583_limit_by_expressions.sql",
    "../0_stateless/00743_limit_by_not_found_column.sql",
    # r7 WITH FILL typed grids + CH column-default fill values: Float32
    # fill with LIMIT/WITH TIES; DateTime fill with numeric (seconds) STEP
    # off a scalar-WITH alias
    "../0_stateless/01614_with_fill_with_limit.sql",
    "../0_stateless/01145_with_fill_const.sql",
    # r7 multi-column / DESC WITH FILL: the full FillingTransform odometer
    # (operators/fill_multi.py) — 29 statements incl. negative steps,
    # FROM/TO on inner columns, and the four serverError 475 validations
    "../0_stateless/00995_order_by_with_fill.sql",
    # r7 SELECT-surface batch 2: ARRAY JOIN forms, DISTINCT, resource-guard
    # SETs, system.numbers, emptyArray<T>
    "../0_stateless/00008_array_join.sql",
    "../0_stateless/00010_big_array_join.sql",
    "../0_stateless/00009_array_join_subquery.sql",
    "../0_stateless/00011_array_join_alias.sql",
    "../0_stateless/00018_distinct_in_subquery.sql",
    "../0_stateless/00027_distinct_and_order_by.sql",
    "../0_stateless/00087_distinct_of_empty_arrays.sql",
    "../0_stateless/00024_unused_array_join_in_subquery.sql",
    "../0_stateless/00072_in_types.sql",
    # r8 SELECT-surface batch 3: array sorting/typing, UNION ALL, implicit
    # system.one (FROM-less `dummy`), ALL/ANY JOIN strictness forms with
    # paren-less USING, transform() dictionary mapping, salted SQL
    # intHash64/intHash32 as UInt64
    # r8 SELECT-surface batch 4: multi-array ARRAY JOIN (positional zip via
    # inline(transform)), sumArray/sumArrayIf combinators, WITH TOTALS over
    # subquery FROMs (key defaults via plan analysis, totals row pinned
    # last, blank-separator emulation), CH arrayElement OOB/zero→type
    # default, join_use_nulls=0 outer-join defaults on CH-typed sources,
    # INSERT omitted columns→type defaults, aliased tuple literals with
    # col1..colN fields, send_logs_level no-op
    "../0_stateless/00001_select_1.sql",
    "../0_stateless/00002_system_numbers.sql",
    "../0_stateless/00013_create_table_with_arrays.sql",
    "../0_stateless/00015_totals_having_constants.sql",
    "../0_stateless/00016_totals_having_constants.sql",
    "../0_stateless/00022_func_higher_order_and_constants.sql",
    "../0_stateless/00023_agg_select_agg_subquery.sql",
    "../0_stateless/00025_implicitly_used_subquery_column.sql",
    "../0_stateless/00036_array_element.sql",
    "../0_stateless/00042_set.sql",
    "../0_stateless/00044_sorting_by_string_descending.sql",
    "../0_stateless/00055_join_two_numbers.sql",
    "../0_stateless/00056_join_number_string.sql",
    "../0_stateless/00071_insert_fewer_columns.sql",
    # r8 SELECT-surface batch 5: hex literals, toFixedString (NUL-padded,
    # length-checked), IPv4NumToStringClassC, sum over boolean comparisons,
    # nested-composite comparison in the harness, empty-reference ==
    # zero-rows PASS, read_overflow_mode='break' numbers cap
    "../0_stateless/00078_string_concat.sql",
    "../0_stateless/00103_ipv4_num_to_string_class_c.sql",
    "../0_stateless/00114_float_type_result_of_division.sql",
    "../0_stateless/00117_parsing_arrays.sql",
    "../0_stateless/00125_array_element_of_array_of_tuple.sql",
    "../0_stateless/00127_group_by_concat.sql",
    "../0_stateless/00128_group_by_number_and_fixed_string.sql",
    "../0_stateless/00136_duplicate_order_by_elems.sql",
    "../0_stateless/00138_table_aliases.sql",
    "../0_stateless/00144_empty_regexp.sql",
    "../0_stateless/00145_empty_likes.sql",
    "../0_stateless/00151_tuple_with_array.sql",
    # r8 SELECT-surface batch 6: CH ternary `cond ? a : b` (nested, inside
    # lambdas, numeric conds via boolean cast), single-stream
    # system.numbers (per-partition LocalLimit projected rows near 2^32),
    # empty range() = [], rounding family (bround parity, scaled
    # floor/ceil/trunc, roundToExp2 const-fold), arrayUniq,
    # inline error annotations on unterminated final statements
    "../0_stateless/00156_array_map_to_constant.sql",
    "../0_stateless/00157_aliases_and_lambda_formal_parameters.sql",
    "../0_stateless/00159_whitespace_in_columns_list.sql",
    "../0_stateless/00165_transform_non_const_default.sql",
    "../0_stateless/00179_lambdas_with_common_expressions_and_filter.sql",
    "../0_stateless/00185_array_literals.sql",
    "../0_stateless/00187_like_regexp_prefix.sql",
    "../0_stateless/00198_group_by_empty_arrays.sql",
    # r8 SELECT-surface batch 7: inner-expression aliases (`f(x AS a) = a`),
    # ASCII-only lower/upper vs *UTF8, BYTE-offset position family with
    # byte start positions + ANSI needle-IN-haystack form, CTAS, bit-test
    # family, Nullable(T) cast unwrap, element-stringifying
    # arrayStringConcat, IPv4 display, DROP TEMPORARY TABLE
    "../0_stateless/00102_insert_into_temporary_table.sql",
    "../0_stateless/00170_lower_upper_utf8.sql",
    "../0_stateless/00213_multiple_global_in.sql",
    "../0_stateless/00218_like_regexp_newline.sql",
    "../0_stateless/00230_array_functions_has_count_equal_index_of_non_const_second_arg.sql",
    "../0_stateless/00233_position_function_family.sql",
    "../0_stateless/00233_position_function_sql_comparibilty.sql",
    "../0_stateless/00234_disjunctive_equality_chains_optimization.sql",
    "../0_stateless/00235_create_temporary_table_as.sql",
    "../0_stateless/00239_type_conversion_in_in.sql",
    "../0_stateless/00240_replace_substring_loop.sql",
    "../0_stateless/00255_array_concat_string.sql",
    "../0_stateless/00260_like_and_curly_braces.sql",
    # r8 SELECT-surface batch 8: rank-family frame stripping + constant
    # ORDER injection (ntile keeps CH's strictness), verbatim `-- { echo }`
    # replay incl. comment/blank/';' placement, identity()
    "../0_stateless/00194_identity.sql",
    "../0_stateless/00268_aliases_without_as_keyword.sql",
    "../0_stateless/00312_position_case_insensitive_utf8.sql",
    "../0_stateless/01571_window_functions.sql",
    "../0_stateless/02306_window_move_row_number_fix.sql",
    "../0_stateless/02354_window_expression_with_aggregation_expression.sql",
    "../0_stateless/02364_window_case.sql",
    "../0_stateless/02366_window_function_order_by.sql",
    "../0_stateless/00007_array.sql",
    "../0_stateless/00012_array_join_alias_2.sql",
    "../0_stateless/00020_sorting_arrays.sql",
    "../0_stateless/00021_sorting_arrays.sql",
    "../0_stateless/00035_function_array_return_type.sql",
    "../0_stateless/00098_6_union_all.sql",
    "../0_stateless/00153_transform.sql",
    "../0_stateless/00053_all_inner_join.sql",
    "../0_stateless/00120_join_and_group_by.sql",
    "../0_stateless/00066_group_by_in.sql",
    # r8 SELECT-surface batch 9: the quantileTiming tiny/medium/large state
    # machine (exact < 5672 elems, de-evened 16-wide grid above),
    # quantile(s)ExactWeighted / InterpolatedWeighted (cumulative-weight
    # walk + midpoint interpolation as aggregate() folds), UInt8→boolean
    # condition casts for if/multiIf/CASE, isConstant() with multiIf
    # constant folding, mixed String/FixedString branch trimming, tuple
    # branches, first-seen DISTINCT ... LIMIT input order, shortest-float
    # toString, INSERT SELECT FROM system.numbers
    "../0_stateless/00315_quantile_off_by_one.sql",
    "../0_stateless/00323_quantiles_timing_bug.sql",
    "../0_stateless/00332_quantile_timing_memory_leak.sql",
    "../0_stateless/00326_long_function_multi_if.sql",
    "../0_stateless/00328_long_case_construction.sql",
    "../0_stateless/00346_if_tuple.sql",
    # r8 SELECT-surface batch 10: CH escape sequences as exact bytes
    # (backslash-aware literal scanning, unhex fallback for non-UTF-8),
    # plain CREATE VIEW via stored-query substitution, Log-family engines,
    # typed expression-base subscript defaults (analyze-probed), tuple IN
    # with scalar/tuple RHS normalization, has/indexOf tuple needles,
    # chained `.N.M` access, rewrite-time visibleWidth, typed INSERT
    # VALUES coercion, 3-arg range() empty guard, length() over arrays
    "../0_stateless/00342_escape_sequences.sql",
    "../0_stateless/00330_view_subqueries.sql",
    "../0_stateless/00343_array_element_generic.sql",
    "../0_stateless/00299_stripe_log_multiple_inserts.sql",
    "../0_stateless/00316_rounding_functions_and_empty_block.sql",
    "../0_stateless/00350_count_distinct.sql",
    "../0_stateless/00353_join_by_tuple.sql",
    "../0_stateless/00306_insert_values_and_expressions.sql",
    "../0_stateless/00317_in_tuples_and_out_of_range_values.sql",
    "../0_stateless/00347_has_tuple.sql",
    "../0_stateless/00348_tuples.sql",
    "../0_stateless/00349_visible_width.sql",
    # r8 SELECT-surface batch 11: CH NULLS-LAST default ordering, WHERE /
    # HAVING UInt8→boolean casts, NULL-dropping IN lists, nan/inf literals
    # + literal-division folds, toTypeName via plan probes, polymorphic
    # length(), SQL pointInPolygon/pointInEllipses, MAC codecs, byte-even
    # hex, substring offset-0, capture-group extractAll, 2-arg
    # toString/toHour, Null engine, fn-form CAST, declared-column CTAS,
    # Tuple(...) column types
    "../0_stateless/00320_between.sql",
    "../0_stateless/00333_parser_number_bug.sql",
    "../0_stateless/00345_index_accurate_comparison.sql",
    "../0_stateless/00351_select_distinct_arrays_tuples.sql",
    "../0_stateless/00352_external_sorting_and_constants.sql",
    "../0_stateless/00355_array_of_non_const_convertible_types.sql",
    "../0_stateless/00356_analyze_aggregations_and_union_all.sql",
    "../0_stateless/00389_concat_operator.sql",
    "../0_stateless/00394_replaceall_vector_fixed.sql",
    "../0_stateless/00399_group_uniq_array_date_datetime.sql",
    "../0_stateless/00403_to_start_of_day.sql",
    "../0_stateless/00404_null_literal.sql",
    "../0_stateless/00412_logical_expressions_optimizer.sql",
    "../0_stateless/00413_distinct.sql",
    "../0_stateless/00414_time_zones_direct_conversion.sql",
    "../0_stateless/00423_storage_log_single_thread.sql",
    "../0_stateless/00425_count_nullable.sql",
    "../0_stateless/00426_nulls_sorting.sql",
    "../0_stateless/00429_point_in_ellipses.sql",
    "../0_stateless/00431_if_nulls.sql",
    "../0_stateless/00436_fixed_string_16_comparisons.sql",
    "../0_stateless/00439_fixed_string_filter.sql",
    "../0_stateless/00440_nulls_merge_tree.sql",
    "../0_stateless/00442_filter_by_nullable.sql",
    "../0_stateless/00448_to_string_cut_to_zero.sql",
    "../0_stateless/00449_filter_array_nullable_tuple.sql",
    "../0_stateless/00450_higher_order_and_nullable.sql",
    "../0_stateless/00472_compare_uuid_with_constant_string.sql",
    "../0_stateless/00479_date_and_datetime_to_number.sql",
    "../0_stateless/00480_mac_addresses.sql",
    "../0_stateless/00481_create_view_for_null.sql",
    "../0_stateless/00482_subqueries_and_aliases.sql",
    "../0_stateless/00483_cast_syntax.sql",
    "../0_stateless/00486_if_fixed_string.sql",
    "../0_stateless/00487_if_array_fixed_string.sql",
    "../0_stateless/00488_column_name_primary.sql",
    "../0_stateless/00493_substring_of_fixedstring.sql",
    "../0_stateless/00495_reading_const_zero_column.sql",
    "../0_stateless/00496_substring_negative_offset.sql",
    "../0_stateless/00498_bitwise_aggregate_functions.sql",
    "../0_stateless/00500_point_in_polygon_bug.sql",
    "../0_stateless/00500_point_in_polygon_bug_2.sql",
    "../0_stateless/00500_point_in_polygon_nan.sql",
    "../0_stateless/00502_string_concat_with_array.sql",
    "../0_stateless/00504_mergetree_arrays_rw.sql",
    "../0_stateless/00516_modulo.sql",
    "../0_stateless/00518_extract_all_and_empty_matches.sql",
    # r8 SELECT-surface batch 12: visitParam/simpleJSON family with CH
    # missing-key defaults, toXOrZero/OrNull parse forms (NULL-preserving),
    # calendar-boundary dateDiff (toRelative*Num differences), dynamic
    # INTERVAL expressions, n-ary arrayIntersect, zip-tuple uniq*Array,
    # composite CAST targets, toRelative*Num family
    "../0_stateless/00530_arrays_of_nothing.sql",
    "../0_stateless/00531_aggregate_over_nullable.sql",
    "../0_stateless/00532_topk_generic.sql",
    "../0_stateless/00533_uniq_array.sql",
    "../0_stateless/00534_exp10.sql",
    "../0_stateless/00535_parse_float_scientific.sql",
    "../0_stateless/00543_null_and_prewhere.sql",
    "../0_stateless/00549_join_use_nulls.sql",
    "../0_stateless/00551_parse_or_null.sql",
    "../0_stateless/00553_invalid_nested_name.sql",
    # r8 SELECT-surface batch 13: Enum8/16 columns (name/value inserts with
    # UNKNOWN_ELEMENT raises, value-ordered ORDER BY, numeric casts read
    # the value, CAST-to-Enum mapping), nested-arrayJoin hoisting
    # (transform for scalar wrappers, LATERAL VIEW under aggregates),
    # scalar IN equality, tuple-shape IN disambiguation, legacy
    # ReplacingMergeTree CTAS args, OPTIMIZE PARTITION, case-insensitive
    # SQL-standard call spellings, toTimeZone
    "../0_stateless/00453_cast_enum.sql",
    "../0_stateless/00516_is_inf_nan.sql",
    "../0_stateless/00649_quantile_tdigest_negative.sql",
    "../0_stateless/00422_hash_function_constexpr.sql",
    "../0_stateless/00616_final_single_part.sql",
    "../0_stateless/00639_startsWith.sql",
    "../0_stateless/00640_endsWith.sql",
    "../0_stateless/00624_length_utf8.sql",
    "../0_stateless/00653_monotonic_integer_cast.sql",
    "../0_stateless/00661_array_has_silviucpp.sql",
    "../0_stateless/00663_tiny_log_empty_insert.sql",
    "../0_stateless/00623_in_partition_key.sql",
    "../0_stateless/00647_select_numbers_with_offset.sql",
    # r8 SELECT-surface batch 14: SQL retention/maxIntersections/gcd/lcm
    # (bounded Euclid fold, float-arg raises), LowCardinality /
    # *WithDictionary types + ALTER with nested type parens, ORDER BY
    # tuple(), subquery-safe arrayJoin hoisting, alias-resolved
    # toTypeName probes
    "../0_stateless/00515_gcd_lcm.sql",
    "../0_stateless/00667_compare_arrays_of_different_types.sql",
    "../0_stateless/00671_max_intersections.sql",
    "../0_stateless/00679_uuid_in_key.sql",
    "../0_stateless/00680_duplicate_columns_inside_union_all.sql",
    "../0_stateless/00681_duplicate_columns_inside_union_all_stas_sviridov.sql",
    "../0_stateless/00688_aggregation_retention.sql",
    "../0_stateless/00688_case_without_else.sql",
    "../0_stateless/00688_low_cardinality_in.sql",
    "../0_stateless/00688_low_cardinality_nullable_cast.sql",
    "../0_stateless/00688_low_cardinality_defaults.sql",
    "../0_stateless/00692_if_exception_code.sql",
    # r8 SELECT-surface batch 15: Decimal32/64/128 types + toDecimalN
    # parses, tuple-literal comparisons normalized to col1..colN structs
    "../0_stateless/00700_decimal_in_keys.sql",
    "../0_stateless/00700_decimal_null.sql",
    "../0_stateless/00700_decimal_gathers.sql",
    "../0_stateless/00694_max_block_size_zero.sql",
    # NULL-dropping arrayDistinct
    "../0_stateless/00672_arrayDistinct.sql",
    "../0_stateless/00691_array_distinct.sql",
    # r8 SELECT-surface batch 16: batch MATERIALIZED VIEWs (insert-block
    # push into the backing table, TO-form aliases, POPULATE, Null-engine
    # sources fire views before swallowing), legacy MergeTree engine-arg
    # key layout, timeSlots, 2-arg arraySlice, DateTime('tz') columns
    "../0_stateless/00726_materialized_view_concurrent.sql",
    "../0_stateless/00752_low_cardinality_mv_1.sql",
    "../0_stateless/00732_decimal_summing_merge_tree.sql",
    "../0_stateless/00734_timeslot.sql",
    "../0_stateless/00727_concat.sql",
    "../0_stateless/00733_if_datetime.sql",
    "../0_stateless/00735_or_expr_optimize_bug.sql",
    "../0_stateless/00741_client_comment_multiline.sql",
    "../0_stateless/00750_merge_tree_merge_with_o_direct.sql",
    "../0_stateless/00752_low_cardinality_array_result.sql",
    "../0_stateless/00752_low_cardinality_lambda_argument.sql",
    "../0_stateless/00753_with_with_single_alias.sql",
    "../0_stateless/00754_first_significant_subdomain_more.sql",
    "../0_stateless/00755_avg_value_size_hint_passing.sql",
    "../0_stateless/00756_power_alias.sql",
    "../0_stateless/00758_array_reverse.sql",
    # r9: Nested(...) columns (r8 VERDICT missing #3) — flatten-on-create
    # into dotted parallel-array columns, ARRAY JOIN prefix/alias forms via
    # the multi-array zip, `n.sub` backtick quoting, ALTER ADD of a new
    # subcolumn keeps the family offsets, INSERT (n.a, n.b) column lists
    "../0_stateless/00014_select_from_table_with_nested.sql",
    "../0_stateless/00361_shared_array_offsets_and_squash_blocks.sql",
    "../0_stateless/00394_new_nested_column_keeps_offsets.sql",
    "../0_stateless/00147_alter_nested_default.sql",
    # r10: first-seen DISTINCT order without LIMIT (r9 VERDICT missing #3's
    # remaining half — the ARRAY JOIN star replacement already passed):
    # DISTINCT groups ranked by min(monotonically_increasing_id())
    "../0_stateless/00576_nested_and_prewhere.sql",
    # r9: non-literal division-by-zero → IEEE Inf/NaN via the typed CASE
    # wrap (r8 VERDICT missing #4) + ifNotFinite
    "../0_stateless/01065_if_not_finite.sql",
    # r9: the BinaryMSTG approximate-traversal deviation, ADJUDICATED
    # (r8 VERDICT missing #7): our exact top-k rows must be at least as
    # near as the reference index's recorded approximations
    "00038_mqvs_binary_vector_feature.sql",
    # r9 batch: 0_stateless scan 00759-01399 (tools-scan survivors, each
    # PASS verbatim in ≤6s) — grown per r8 VERDICT ask #9 after the suite
    # could run to completion again
    "../0_stateless/00761_lower_utf8_bug.sql",
    "../0_stateless/00762_date_comparsion.sql",
    "../0_stateless/00800_low_cardinality_empty_array.sql",
    "../0_stateless/00804_rollup_with_having.sql",
    "../0_stateless/00811_garbage.sql",
    "../0_stateless/00814_parsing_ub.sql",
    "../0_stateless/00817_with_simple.sql",
    "../0_stateless/00834_date_datetime_cmp.sql",
    "../0_stateless/00836_numbers_table_function_zero.sql",
    "../0_stateless/00841_temporary_table_database.sql",
    "../0_stateless/00842_array_with_constant_overflow.sql",
    "../0_stateless/00844_join_lightee2.sql",
    "../0_stateless/00860_unknown_identifier_bug.sql",
    "../0_stateless/00877_memory_limit_for_new_delete.sql",
    "../0_stateless/00880_decimal_in_key.sql",
    "../0_stateless/00898_quantile_timing_parameter_check.sql",
    "../0_stateless/00906_low_cardinality_const_argument.sql",
    "../0_stateless/00906_low_cardinality_rollup.sql",
    "../0_stateless/00910_crash_when_distributed_modify_order_by.sql",
    "../0_stateless/00911_tautological_compare.sql",
    "../0_stateless/00918_has_unsufficient_type_check.sql",
    "../0_stateless/00931_low_cardinality_nullable_aggregate_function_type.sql",
    "../0_stateless/00931_low_cardinality_read_with_empty_array.sql",
    "../0_stateless/00931_low_cardinality_set_index_in_key_condition.sql",
    "../0_stateless/00932_array_intersect_bug.sql",
    "../0_stateless/00938_test_retention_function.sql",
    "../0_stateless/00939_test_null_in.sql",
    "../0_stateless/00944_minmax_null.sql",
    "../0_stateless/00963_startsWith_force_primary_key.sql",
    "../0_stateless/00971_merge_tree_uniform_read_distribution_and_max_rows_to_read.sql",
    "../0_stateless/00972_live_view_select_1.sql",
    "../0_stateless/00974_adaptive_granularity_secondary_index.sql",
    "../0_stateless/00974_final_predicate_push_down.sql",
    "../0_stateless/00974_full_outer_join.sql",
    "../0_stateless/00974_live_view_select_with_aggregation.sql",
    "../0_stateless/00975_live_view_create.sql",
    "../0_stateless/00975_recursive_materialized_view.sql",
    "../0_stateless/00976_shard_low_cardinality_achimbab.sql",
    "../0_stateless/00979_set_index_not.sql",
    "../0_stateless/00979_yandex_consistent_hash_fpe.sql",
    "../0_stateless/00980_full_join_crash_fancyqlx.sql",
    "../0_stateless/00982_low_cardinality_setting_in_mv.sql",
    "../0_stateless/00983_summing_merge_tree_not_an_identifier.sql",
    "../0_stateless/00990_request_splitting.sql",
    "../0_stateless/00995_optimize_read_in_order_with_aggregation.sql",
    "../0_stateless/00997_extract_all_crash_6627.sql",
    "../0_stateless/00997_set_index_array.sql",
    "../0_stateless/00997_trim.sql",
    "../0_stateless/00999_test_skip_indices_with_alter_and_merge.sql",
    "../0_stateless/01010_partial_merge_join_const_and_lc.sql",
    "../0_stateless/01012_select_limit_x_0.sql",
    "../0_stateless/01013_repeat_function.sql",
    "../0_stateless/01016_index_tuple_field_type.sql",
    "../0_stateless/01020_function_char.sql",
    "../0_stateless/01020_having_without_group_by.sql",
    "../0_stateless/01024__getScalar.sql",
    "../0_stateless/01026_char_utf8.sql",
    "../0_stateless/01030_final_mark_empty_primary_key.sql",
    "../0_stateless/01032_duplicate_column_insert_query.sql",
    "../0_stateless/01034_order_by_pk_prefix.sql",
    "../0_stateless/01034_unknown_qualified_column_in_join.sql",
    "../0_stateless/01034_with_fill_and_push_down_predicate.sql",
    "../0_stateless/01036_union_different_columns.sql",
    "../0_stateless/01038_array_of_unnamed_tuples.sql",
    "../0_stateless/01045_bloom_filter_null_array.sql",
    "../0_stateless/01051_random_printable_ascii.sql",
    "../0_stateless/01051_scalar_optimization.sql",
    "../0_stateless/01052_array_reduce_exception.sql",
    "../0_stateless/01056_negative_with_bloom_filter.sql",
    "../0_stateless/01062_pm_multiple_all_join_same_value.sql",
    "../0_stateless/01064_pm_all_join_const_and_nullable.sql",
    "../0_stateless/01065_array_zip_mixed_const.sql",
    "../0_stateless/01067_join_null.sql",
    "../0_stateless/01069_insert_float_as_nullable_unit8.sql",
    "../0_stateless/01071_live_view_detach_dependency.sql",
    "../0_stateless/01072_select_constant_limit.sql",
    "../0_stateless/01074_h3_range_check.sql",
    "../0_stateless/01077_yet_another_prewhere_test.sql",
    "../0_stateless/01078_bloom_filter_operator_not_has.sql",
    "../0_stateless/01083_cross_to_inner_with_in_bug.sql",
    "../0_stateless/01087_index_set_ubsan.sql",
    "../0_stateless/01089_alter_settings_old_format.sql",
    "../0_stateless/01092_base64.sql",
    "../0_stateless/01097_one_more_range_reader_test.sql",
    "../0_stateless/01097_one_more_range_reader_test_wide_part.sql",
    "../0_stateless/01097_pre_limit.sql",
    "../0_stateless/01106_const_fixed_string_like.sql",
    "../0_stateless/01116_cross_count_asterisks.sql",
    "../0_stateless/01117_comma_and_others_join_mix.sql",
    "../0_stateless/01117_greatest_least_case.sql",
    "../0_stateless/01122_totals_rollup_having_block_header.sql",
    "../0_stateless/01127_month_partitioning_consistency_select.sql",
    # r9 batch 2: 0_stateless scan 01400-01999 survivors (each PASS
    # verbatim in <=6s; scanner uses the same run_file harness + cleanup)
    "../0_stateless/01413_if_array_uuid.sql",
    "../0_stateless/01418_index_analysis_bug.sql",
    "../0_stateless/01419_skip_index_compact_parts.sql",
    "../0_stateless/01421_array_nullable_element_nullable_index.sql",
    "../0_stateless/01421_assert_in_in.sql",
    "../0_stateless/01422_array_nullable_element_nullable_index.sql",
    "../0_stateless/01428_h3_range_check.sql",
    "../0_stateless/01430_fix_any_rewrite_aliases.sql",
    "../0_stateless/01441_array_combinator.sql",
    "../0_stateless/01450_set_null_const.sql",
    "../0_stateless/01457_order_by_limit.sql",
    "../0_stateless/01459_default_value_of_argument_type_nullptr_dereference.sql",
    "../0_stateless/01463_resample_overflow.sql",
    "../0_stateless/01491_nested_multiline_comments.sql",
    "../0_stateless/01495_subqueries_in_with_statement_2.sql",
    "../0_stateless/01503_fixed_string_primary_key.sql",
    "../0_stateless/01503_if_const_optimization.sql",
    "../0_stateless/01511_different_expression_with_same_alias.sql",
    "../0_stateless/01512_create_replicate_merge_tree_one_arg.sql",
    "../0_stateless/01513_ilike_like_cache.sql",
    "../0_stateless/01518_nullable_aggregate_states1.sql",
    "../0_stateless/01519_topK_distributed_parametrized.sql",
    "../0_stateless/01522_validate_alter_default.sql",
    "../0_stateless/01527_bad_aggregation_in_lambda.sql",
    "../0_stateless/01533_distinct_depends_on_max_threads.sql",
    "../0_stateless/01535_decimal_round_scale_overflow_check.sql",
    "../0_stateless/01538_fuzz_aggregate.sql",
    "../0_stateless/01548_with_totals_having.sql",
    "../0_stateless/01549_low_cardinality_mv_fuzz.sql",
    "../0_stateless/01552_alter_name_collision.sql",
    "../0_stateless/01560_crash_in_agg_empty_arglist.sql",
    "../0_stateless/01581_to_int_inf_nan.sql",
    "../0_stateless/01582_distinct_subquery_groupby.sql",
    "../0_stateless/01583_const_column_in_set_index.sql",
    "../0_stateless/01586_columns_pruning.sql",
    "../0_stateless/01592_window_functions.sql",
    "../0_stateless/01600_min_max_compress_block_size.sql",
    "../0_stateless/01605_skip_idx_compact_parts.sql",
    "../0_stateless/01621_bar_nan_arguments.sql",
    "../0_stateless/01631_date_overflow_as_partition_key.sql",
    "../0_stateless/01632_nullable_string_type_convert_to_decimal_type.sql",
    "../0_stateless/01632_select_all_syntax.sql",
    "../0_stateless/01643_merge_tree_fsync_smoke.sql",
    "../0_stateless/01649_with_alias_key_condition.sql",
    "../0_stateless/01652_ttl_old_syntax.sql",
    "../0_stateless/01655_sleep_infinite_float.sql",
    "../0_stateless/01658_substring_ubsan.sql",
    "../0_stateless/01659_h3_buffer_overflow.sql",
    "../0_stateless/01662_join_mixed.sql",
    "../0_stateless/01665_merge_tree_min_for_concurrent_read.sql",
    "../0_stateless/01667_aes_args_check.sql",
    "../0_stateless/01670_sign_function.sql",
    "../0_stateless/01674_where_prewhere_array_crash.sql",
    "../0_stateless/01677_bit_float.sql",
    "../0_stateless/01680_predicate_pushdown_union_distinct_subquery.sql",
    "../0_stateless/01682_gather_utils_ubsan.sql",
    "../0_stateless/01683_intdiv_ubsan.sql",
    "../0_stateless/01710_minmax_count_projection_constant_query.sql",
    "../0_stateless/01710_projection_group_by_order_by.sql",
    "../0_stateless/01711_cte_subquery_fix.sql",
    "../0_stateless/01711_decimal_multiplication.sql",
    "../0_stateless/01715_table_function_view_fix.sql",
    "../0_stateless/01717_global_with_subquery_fix.sql",
    "../0_stateless/01720_union_distinct_with_limit.sql",
    "../0_stateless/01745_alter_delete_view.sql",
    "../0_stateless/01746_lc_values_format_bug.sql",
    "../0_stateless/01746_test_for_tupleElement_must_be_constant_issue.sql",
    "../0_stateless/01752_distributed_query_sigsegv.sql",
    "../0_stateless/01773_case_sensitive_version.sql",
    "../0_stateless/01773_datetime64_add_ubsan.sql",
    "../0_stateless/01774_bar_with_illegal_value.sql",
    "../0_stateless/01774_tuple_null_in.sql",
    "../0_stateless/01776_decrypt_aead_size_check.sql",
    "../0_stateless/01777_map_populate_series_ubsan.sql",
    "../0_stateless/01778_test_LowCardinality_FixedString_pk.sql",
    "../0_stateless/01778_where_with_column_name.sql",
    "../0_stateless/01780_range_msan.sql",
    "../0_stateless/01782_field_oom.sql",
    "../0_stateless/01802_rank_corr_mann_whitney_over_window.sql",
    "../0_stateless/01809_inactive_parts_to_delay_throw_insert.sql",
    "../0_stateless/01812_has_generic.sql",
    "../0_stateless/01818_case_float_value_fangyc.sql",
    "../0_stateless/01820_unhex_case_insensitive.sql",
    "../0_stateless/01825_replacing_vertical_merge.sql",
    "../0_stateless/01831_max_streams.sql",
    "../0_stateless/01832_memory_write_suffix.sql",
    "../0_stateless/01837_cast_to_array_from_empty_array.sql",
    "../0_stateless/01881_create_as_tuple.sql",
    "../0_stateless/01881_to_week_monotonic_fix.sql",
    "../0_stateless/01888_read_int_safe.sql",
    "../0_stateless/01890_cross_join_explain_crash.sql",
    "../0_stateless/01891_echo.sql",
    "../0_stateless/01891_not_in_partition_prune.sql",
    "../0_stateless/01891_not_like_partition_prune.sql",
    "../0_stateless/01902_self_aliases_in_columns.sql",
    "../0_stateless/01906_partition_by_multiply_by_zero.sql",
    "../0_stateless/01907_multiple_aliases.sql",
    "../0_stateless/01910_memory_tracking_topk.sql",
    "../0_stateless/01913_if_int_decimal.sql",
    "../0_stateless/01914_index_bgranvea.sql",
    "../0_stateless/01926_union_all_schmak.sql",
    "../0_stateless/01936_three_parts_identifiers_in_wrong_places.sql",
    "../0_stateless/01940_totimezone_operator_monotonicity.sql",
    "../0_stateless/01943_non_deterministic_order_key.sql",
    "../0_stateless/01944_insert_partition_by.sql",
    "../0_stateless/01960_lambda_precedence.sql",
    "../0_stateless/01961_roaring_memory_tracking.sql",
    # r10: INSERT inline-data formats (JSONEachRow/CSV/TSV payloads, 
    # newline-terminated statements)
    "../0_stateless/00462_json_true_false_literals.sql",
    # r10: query parameters (SET param_* + {name:Type} placeholders,
    # ReplaceQueryParameterVisitor) in SELECT and INSERT VALUES
    "../0_stateless/02476_query_parameters_insert.sql",
    "../0_stateless/02679_query_parameters_dangling_pointer.sql",
    # r10: CH `\N` replacement backrefs translated to Spark `$N` for
    # replaceRegexpAll / REGEXP_REPLACE (literal $ double-escaped)
    "../0_stateless/02374_regexp_replace.sql",
    # r10: CH numeric-literal forms (digit separators, 0b binary, 0x..pN
    # hex floats) + the DEFAULT keyword in INSERT VALUES
    "../0_stateless/02354_numeric_literals_with_underscores.sql",
    "../0_stateless/02154_default_keyword_insert.sql",
    # r10 batch: 0_stateless scan 02000-02354 (tools-scan survivors, each
    # PASS verbatim) - grown per r9 VERDICT ask #5
    "../0_stateless/02002_global_subqueries_subquery_or_table_name.sql",
    "../0_stateless/02006_client_test_hint_error_name.sql",
    "../0_stateless/02008_test_union_distinct_in_subquery.sql",
    "../0_stateless/02009_array_join_partition.sql",
    "../0_stateless/02010_array_index_bad_cast.sql",
    "../0_stateless/02015_order_by_with_fill_misoptimization.sql",
    "../0_stateless/02016_order_by_with_fill_monotonic_functions_removal.sql",
    "../0_stateless/02017_columns_with_dot.sql",
    "../0_stateless/02018_multiple_with_fill_for_the_same_column.sql",
    "../0_stateless/02020_cast_integer_overflow.sql",
    "../0_stateless/02023_nullable_int_uint_where.sql",
    "../0_stateless/02024_compile_expressions_with_short_circuit_evaluation.sql",
    "../0_stateless/02024_merge_regexp_assert.sql",
    "../0_stateless/02029_quantile_sanitizer.sql",
    "../0_stateless/02041_test_fuzzy_alter.sql",
    "../0_stateless/02044_exists_operator.sql",
    "../0_stateless/02045_like_function.sql",
    "../0_stateless/02049_lowcardinality_shortcircuit_crash.sql",
    "../0_stateless/02100_limit_push_down_bug.sql",
    "../0_stateless/02111_global_context_temporary_tables.sql",
    "../0_stateless/02111_with_fill_no_rows.sql",
    "../0_stateless/02112_skip_index_set_and_or.sql",
    "../0_stateless/02113_base64encode_trailing_bytes_1.sql",
    "../0_stateless/02113_format_row_bug.sql",
    "../0_stateless/02124_uncompressed_cache.sql",
    "../0_stateless/02125_fix_storage_filelog.sql",
    "../0_stateless/02131_mv_many_chunks_bug.sql",
    "../0_stateless/02131_remove_columns_in_subquery.sql",
    "../0_stateless/02131_skip_index_not_materialized.sql",
    "../0_stateless/02146_mv_non_phys.sql",
    "../0_stateless/02148_cast_type_parsing.sql",
    "../0_stateless/02150_replace_regexp_all_empty_match.sql",
    "../0_stateless/02151_lc_prefetch.sql",
    "../0_stateless/02151_replace_regexp_all_empty_match_alternative.sql",
    "../0_stateless/02157_line_as_string_output_format.sql",
    "../0_stateless/02167_columns_with_dots_default_values.sql",
    "../0_stateless/02176_optimize_aggregation_in_order_empty.sql",
    "../0_stateless/02177_issue_31009.sql",
    "../0_stateless/02179_degrees_radians.sql",
    "../0_stateless/02179_key_condition_no_common_type.sql",
    "../0_stateless/02181_sql_user_defined_functions_invalid_lambda.sql",
    "../0_stateless/02185_split_by_char.sql",
    "../0_stateless/02189_join_type_conversion.sql",
    "../0_stateless/02207_key_condition_floats.sql",
    "../0_stateless/02232_partition_pruner_mixed_constant_type.sql",
    "../0_stateless/02232_partition_pruner_single_point.sql",
    "../0_stateless/02233_with_total_empty_chunk.sql",
    "../0_stateless/02234_position_case_insensitive_utf8.sql",
    "../0_stateless/02242_if_then_else_null_bug.sql",
    "../0_stateless/02242_optimize_to_subcolumns_no_storage.sql",
    "../0_stateless/02244_lowcardinality_hash_join.sql",
    "../0_stateless/02252_reset_non_existing_setting.sql",
    "../0_stateless/02264_format_insert_compression.sql",
    "../0_stateless/02264_format_insert_infile.sql",
    "../0_stateless/02265_cross_join_empty_list.sql",
    "../0_stateless/02267_empty_arrays_read_reverse.sql",
    "../0_stateless/02269_to_start_of_interval_overflow.sql",
    "../0_stateless/02292_create_function_validate.sql",
    "../0_stateless/02293_ilike_on_fixed_strings.sql",
    "../0_stateless/02304_grouping_sets_with_rollup_cube.sql",
    "../0_stateless/02311_create_table_with_unknown_format.sql",
    "../0_stateless/02313_cross_join_dup_col_names.sql",
    "../0_stateless/02316_const_string_intersact.sql",
    "../0_stateless/02316_literal_no_octal.sql",
    "../0_stateless/02316_values_table_func_bug.sql",
    "../0_stateless/02317_functions_with_nothing.sql",
    "../0_stateless/02317_like_with_trailing_escape.sql",
    "../0_stateless/02336_sort_optimization_with_fill.sql",
    "../0_stateless/02337_multiple_joins_original_names.sql",
    "../0_stateless/02343_analyzer_lambdas_issue_28083.sql",
    "../0_stateless/02344_distinct_limit_distiributed.sql",
    "../0_stateless/02345_partial_sort_transform_optimization.sql",
    "../0_stateless/02353_ascii.sql",
    "../0_stateless/02354_with_statement_non_exist_column.sql",
    # r10 batch: 0_stateless scan 02355-02999+ (tools-scan survivors,
    # re-validated PASS against the current tree)
    "../0_stateless/02366_with_fill_date.sql",
    "../0_stateless/02367_optimize_trivial_count_with_array_join.sql",
    "../0_stateless/02374_in_tuple_index.sql",
    "../0_stateless/02375_analyzer_union.sql",
    "../0_stateless/02375_scalar_lc_cte.sql",
    "../0_stateless/02384_decrypt_bad_arguments.sql",
    "../0_stateless/02387_analyzer_cte.sql",
    "../0_stateless/02388_analyzer_recursive_lambda.sql",
    "../0_stateless/02401_merge_tree_old_tmp_dirs_cleanup.sql",
    "../0_stateless/02407_array_element_from_map_wrong_type.sql",
    "../0_stateless/02408_to_fixed_string_short_circuit.sql",
    "../0_stateless/02416_in_set_same_ast_diff_columns.sql",
    "../0_stateless/02419_contingency_array_nullable.sql",
    "../0_stateless/02420_key_condition_actions_dag_bug_40599.sql",
    "../0_stateless/02423_multidimensional_array_get_data_at.sql",
    "../0_stateless/02424_pod_array_overflow.sql",
    "../0_stateless/02426_pod_array_overflow_2.sql",
    "../0_stateless/02426_pod_array_overflow_3.sql",
    "../0_stateless/02427_column_nullable_ubsan.sql",
    "../0_stateless/02428_delete_with_settings.sql",
    "../0_stateless/02428_index_analysis_with_null_literal.sql",
    "../0_stateless/02428_partial_sort_optimization_bug.sql",
    "../0_stateless/02430_bitmap_transform_exception_code.sql",
    "../0_stateless/02455_count_state_asterisk.sql",
    "../0_stateless/02455_duplicate_column_names_in_schema_inference.sql",
    "../0_stateless/02455_improve_feedback_when_replacing_partition_with_different_primary_key.sql",
    "../0_stateless/02456_summing_mt_lc.sql",
    "../0_stateless/02457_key_condition_with_types_that_cannot_be_nullable.sql",
    "../0_stateless/02462_match_regexp_pk.sql",
    "../0_stateless/02463_julian_day_ubsan.sql",
    "../0_stateless/02467_cross_join_three_table_functions.sql",
    "../0_stateless/02467_set_with_lowcardinality_type.sql",
    "../0_stateless/02472_segfault_expression_parser.sql",
    "../0_stateless/02473_map_element_nullable.sql",
    "../0_stateless/02474_analyzer_subqueries_table_expression_modifiers.sql",
    "../0_stateless/02474_create_user_query_fuzzer_bug.sql",
    "../0_stateless/02474_fix_function_parser_bug.sql",
    "../0_stateless/02474_unhex_in_fix_string.sql",
    "../0_stateless/02475_analyzer_join_tree_subquery.sql",
    "../0_stateless/02475_analyzer_subquery_compound_expression.sql",
    "../0_stateless/02476_fix_cast_parser_bug.sql",
    "../0_stateless/02477_analyzer_ast_key_condition_crash.sql",
    "../0_stateless/02477_exists_fuzz_43478.sql",
    "../0_stateless/02479_analyzer_aggregation_crash.sql",
    "../0_stateless/02479_if_with_null_and_cullable_const.sql",
    "../0_stateless/02479_nullable_primary_key_second_column.sql",
    "../0_stateless/02480_analyzer_alias_nullptr.sql",
    "../0_stateless/02481_fix_parameters_parsing.sql",
    "../0_stateless/02481_low_cardinality_with_short_circuit_functins.sql",
    "../0_stateless/02482_execute_functions_before_sorting_bug.sql",
    "../0_stateless/02489_analyzer_indexes.sql",
    "../0_stateless/02493_do_not_assume_that_the_original_query_was_valid_when_transforming_joins.sql",
    "../0_stateless/02494_analyzer_cte_resolution_in_subquery_fix.sql",
    "../0_stateless/02498_analyzer_aggregate_functions_arithmetic_operations_pass_fix.sql",
    "../0_stateless/02499_analyzer_aggregate_function_lambda_crash_fix.sql",
    "../0_stateless/02499_analyzer_set_index.sql",
    "../0_stateless/02500_analyzer_storage_view_crash_fix.sql",
    "../0_stateless/02502_analyzer_insert_select_crash_fix.sql",
    "../0_stateless/02502_bad_values_schema_inference.sql",
    "../0_stateless/02504_disallow_arrayjoin_in_mutations.sql",
    "../0_stateless/02505_forbid_paths_in_datetime_timezone.sql",
    "../0_stateless/02510_group_by_prewhere_null.sql",
    "../0_stateless/02513_analyzer_sort_msan.sql",
    "../0_stateless/02515_distinct_zero_size_key_bug_44831.sql",
    "../0_stateless/02517_executable_pool_bad_input_query.sql",
    "../0_stateless/02521_cannot_find_column_in_projection.sql",
    "../0_stateless/02524_fuzz_and_fuss_2.sql",
    "../0_stateless/02534_join_prewhere_bug_44062.sql",
    "../0_stateless/02535_analyzer_limit_offset.sql",
    "../0_stateless/02536_system_sync_file_cache.sql",
    "../0_stateless/02538_analyzer_create_table_as_select.sql",
    "../0_stateless/02541_analyzer_grouping_sets_crash_fix.sql",
    "../0_stateless/02552_analyzer_optimize_group_by_function_keys_crash.sql",
    "../0_stateless/02554_invalid_create_view_syntax.sql",
    "../0_stateless/02560_regexp_denial_of_service.sql",
    "../0_stateless/02561_with_fill_date_datetime_incompatible.sql",
    "../0_stateless/02568_array_map_const_low_cardinality.sql",
    "../0_stateless/02568_json_array_length.sql",
    "../0_stateless/02582_analyzer_join_subquery_empty_column_list.sql",
    "../0_stateless/02590_bson_duplicate_column.sql",
    "../0_stateless/02680_illegal_type_of_filter_projection.sql",
    "../0_stateless/02680_instr_alias_for_position_case_insensitive.sql",
    "../0_stateless/02680_lc_null_as_default.sql",
    "../0_stateless/02684_bson.sql",
    "../0_stateless/02688_aggregate_states.sql",
    "../0_stateless/02688_long_aggregate_function_names.sql",
    "../0_stateless/02689_meaningless_data_types.sql",
    "../0_stateless/02690_subquery_identifiers.sql",
    "../0_stateless/02694_wrong_identifier_shouldnt_be_accepted.sql",
    "../0_stateless/02700_regexp_operator.sql",
    "../0_stateless/02701_fail_on_invalid_having.sql",
    "../0_stateless/02703_explain_query_tree_is_forbidden_with_old_analyzer.sql",
]


@pytest.mark.parametrize("fname", PINNED)
def test_reference_sql_file_passes(spark, fname):
    if not os.path.isdir(REF_DIR):
        pytest.skip("reference checkout not present")
    import conformance

    status, detail = conformance.run_file(spark, os.path.join(REF_DIR, fname))
    assert status == "PASS", f"{fname}: {status} — {detail}"


def test_temp_views_skips_permanent_views(spark):
    """File cleanup drops what _temp_views lists, so it must list temp views
    only — never a permanent view in the current database."""
    import conformance

    spark.sql("CREATE OR REPLACE TEMPORARY VIEW tv_cleanup_probe AS SELECT 1 AS x")
    spark.sql("CREATE OR REPLACE VIEW pv_cleanup_probe AS SELECT 1 AS x")
    try:
        names = conformance._temp_views(spark)
        assert "tv_cleanup_probe" in names
        assert "pv_cleanup_probe" not in names
    finally:
        spark.sql("DROP VIEW IF EXISTS tv_cleanup_probe")
        spark.sql("DROP VIEW IF EXISTS pv_cleanup_probe")
