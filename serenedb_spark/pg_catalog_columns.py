"""PostgreSQL's standard catalog relations, declared once: each
relation's columns in PG's SELECT * order with a Spark type for each
(public, documented in PG's own docs; mirrored by the reference's
server/pg/pg_catalog/*.h — any/pg/system/check_columns.test pins all 144
headers). `pg_catalog.py` builds every relation at exactly this shape;
a column its builder does not fill takes its `DEFAULTS` value, else
NULL."""

from __future__ import annotations

COLUMNS: dict[str, str] = {
    "pg_aggregate": (
        "aggfnoid int, aggkind string, aggnumdirectargs string,"
        " aggtransfn string, aggfinalfn string, aggcombinefn string,"
        " aggserialfn string, aggdeserialfn string, aggmtransfn string,"
        " aggminvtransfn string, aggmfinalfn string, aggfinalextra string,"
        " aggmfinalextra string, aggfinalmodify string,"
        " aggmfinalmodify string, aggsortop string, aggtranstype string,"
        " aggtransspace string, aggmtranstype string, aggmtransspace string,"
        " agginitval string, aggminitval string"),
    "pg_aios": (
        "pid string, io_id string, io_generation string, state string,"
        " operation string, off string, length string, target string,"
        " handle_data_len string, raw_result string, result string,"
        " target_desc string, f_sync string, f_localmem string,"
        " f_buffered string"),
    "pg_am": "oid int, amname string, amhandler string, amtype string",
    "pg_amop": (
        "oid int, amopfamily int, amoplefttype string, amoprighttype string,"
        " amopstrategy string, amoppurpose string, amopopr int,"
        " amopmethod string, amopsortfamily string"),
    "pg_amproc": (
        "oid int, amprocfamily int, amproclefttype string,"
        " amprocrighttype string, amprocnum string, amproc int"),
    "pg_attrdef": "oid string, adrelid int, adnum int, adbin string",
    "pg_attribute": (
        "attrelid int, attname string, atttypid int, attlen int, attnum int,"
        " atttypmod string, attndims int, attbyval boolean, attalign string,"
        " attstorage string, attcompression string, attnotnull boolean,"
        " atthasdef boolean, atthasmissing boolean, attidentity string,"
        " attgenerated string, attisdropped boolean, attislocal boolean,"
        " attinhcount int, attcollation int, attstattarget int,"
        " attacl array<string>, attoptions string, attfdwoptions string,"
        " attmissingval string"),
    "pg_auth_members": (
        "oid int, roleid int, member int, grantor int, admin_option boolean,"
        " inherit_option boolean, set_option boolean"),
    "pg_authid": (
        "oid int, rolname string, rolsuper boolean, rolinherit boolean,"
        " rolcreaterole boolean, rolcreatedb boolean, rolcanlogin boolean,"
        " rolreplication boolean, rolbypassrls boolean, rolconnlimit int,"
        " rolpassword string, rolvaliduntil string"),
    "pg_available_extension_versions": (
        "name string, version string, installed string, superuser string,"
        " trusted string, relocatable string, schema string, requires string,"
        " comment string"),
    "pg_available_extensions": (
        "name string, default_version string, installed_version string,"
        " comment string"),
    "pg_backend_memory_contexts": (
        "name string, ident string, type string, level string, path string,"
        " total_bytes string, total_nblocks string, free_bytes string,"
        " free_chunks string, used_bytes string"),
    "pg_cast": (
        "oid int, castsource int, casttarget int, castfunc int,"
        " castcontext string, castmethod string"),
    "pg_class": (
        "oid int, relname string, relnamespace int, reltype int,"
        " reloftype int, relowner int, relam int, relfilenode int,"
        " reltablespace int, relpages int, reltuples double,"
        " relallvisible int, relallfrozen int, reltoastrelid int,"
        " relhasindex boolean, relisshared boolean, relpersistence string,"
        " relkind string, relnatts int, relchecks int, relhasrules boolean,"
        " relhastriggers boolean, relhassubclass boolean,"
        " relrowsecurity boolean, relforcerowsecurity boolean,"
        " relispopulated boolean, relreplident string,"
        " relispartition boolean, relrewrite int, relfrozenxid int,"
        " relminmxid int, relacl array<string>, reloptions array<string>,"
        " relpartbound string"),
    "pg_collation": (
        "oid int, collname string, collnamespace string, collowner string,"
        " collprovider string, collisdeterministic string,"
        " collencoding string, collcollate string, collctype string,"
        " colllocale string, collicurules string, collversion string"),
    "pg_config": "name string, setting string",
    "pg_constraint": (
        "oid int, conname string, connamespace int, contype string,"
        " condeferrable boolean, condeferred boolean, conenforced boolean,"
        " convalidated boolean, conrelid int, contypid string,"
        " conindid string, conparentid string, confrelid string,"
        " confupdtype string, confdeltype string, confmatchtype string,"
        " conislocal boolean, coninhcount int, connoinherit boolean,"
        " conperiod string, conkey array<int>, confkey string,"
        " conpfeqop string, conppeqop string, conffeqop string,"
        " confdelsetcols string, conexclop string, conbin string"),
    "pg_conversion": (
        "oid int, conname string, connamespace int, conowner string,"
        " conforencoding string, contoencoding string, conproc string,"
        " condefault string"),
    "pg_cursors": (
        "name string, statement string, is_holdable string,"
        " is_binary string, is_scrollable string, creation_time string"),
    "pg_database": (
        "oid int, datname string, datdba int, encoding string,"
        " datlocprovider string, datistemplate boolean, datallowconn boolean,"
        " dathasloginevt boolean, datconnlimit int, datfrozenxid int,"
        " datminmxid int, dattablespace int, datcollate string,"
        " datctype string, datlocale string, daticurules string,"
        " datcollversion string, datacl array<string>"),
    "pg_db_role_setting": (
        "setdatabase int, setrole int, setconfig array<string>"),
    "pg_default_acl": (
        "oid int, defaclrole int, defaclnamespace int, defaclobjtype string,"
        " defaclacl array<string>"),
    "pg_depend": (
        "classid string, objid int, objsubid string, refclassid string,"
        " refobjid int, refobjsubid string, deptype string"),
    "pg_description": (
        "objoid int, classoid string, objsubid string, description string"),
    "pg_enum": (
        "oid string, enumtypid string, enumsortorder double,"
        " enumlabel string"),
    "pg_event_trigger": (
        "oid int, evtname string, evtevent string, evtowner string,"
        " evtfoid string, evtenabled string, evttags string"),
    "pg_extension": (
        "oid int, extname string, extowner string, extnamespace string,"
        " extrelocatable string, extversion string, extconfig string,"
        " extcondition string"),
    "pg_file_settings": (
        "sourcefile string, sourceline string, seqno string, name string,"
        " setting string, applied string, error string"),
    "pg_foreign_data_wrapper": (
        "oid int, fdwname string, fdwowner int, fdwhandler string,"
        " fdwvalidator string, fdwacl string, fdwoptions string"),
    "pg_foreign_server": (
        "oid int, srvname string, srvowner string, srvfdw int,"
        " srvtype string, srvversion string, srvacl string,"
        " srvoptions string"),
    "pg_foreign_table": "ftrelid int, ftserver int, ftoptions string",
    "pg_group": "groname string, grosysid int, grolist array<int>",
    "pg_hba_file_rules": (
        "rule_number string, file_name string, line_number string,"
        " type string, database string, user_name string, address string,"
        " netmask string, auth_method string, options string, error string"),
    "pg_ident_file_mappings": (
        "map_number string, file_name string, line_number string,"
        " map_name string, sys_name string, pg_username string, error string"),
    "pg_index": (
        "indexrelid int, indrelid int, indnatts int, indnkeyatts int,"
        " indisunique boolean, indnullsnotdistinct string,"
        " indisprimary boolean, indisexclusion string, indimmediate string,"
        " indisclustered string, indisvalid boolean, indcheckxmin string,"
        " indisready boolean, indislive boolean, indisreplident string,"
        " indkey array<int>, indcollation string, indclass string,"
        " indoption string, indexprs string, indpred string"),
    "pg_indexes": (
        "schemaname string, tablename string, indexname string,"
        " tablespace string, indexdef string"),
    "pg_inherits": (
        "inhrelid int, inhparent int, inhseqno int, inhdetachpending string"),
    "pg_init_privs": (
        "objoid int, classoid int, objsubid string, privtype string,"
        " initprivs string"),
    "pg_language": (
        "oid int, lanname string, lanowner string, lanispl boolean,"
        " lanpltrusted boolean, lanplcallfoid string, laninline string,"
        " lanvalidator string, lanacl string"),
    "pg_largeobject": "loid int, pageno int, data binary",
    "pg_largeobject_metadata": "oid int, lomowner int, lomacl string",
    "pg_locks": (
        "locktype string, database string, relation int, page string,"
        " tuple string, virtualxid string, transactionid string,"
        " classid string, objid string, objsubid string,"
        " virtualtransaction string, pid string, mode string,"
        " granted boolean, fastpath string, waitstart string"),
    "pg_matviews": (
        "schemaname string, matviewname string, matviewowner string,"
        " tablespace string, hasindexes string, ispopulated string,"
        " definition string"),
    "pg_namespace": (
        "oid int, nspname string, nspowner int, nspacl array<string>"),
    "pg_opclass": (
        "oid int, opcmethod string, opcname string, opcnamespace string,"
        " opcowner string, opcfamily int, opcintype string,"
        " opcdefault string, opckeytype string"),
    "pg_operator": (
        "oid int, oprname string, oprnamespace string, oprowner string,"
        " oprkind string, oprcanmerge string, oprcanhash string,"
        " oprleft string, oprright string, oprresult string, oprcom string,"
        " oprnegate string, oprcode string, oprrest string, oprjoin string"),
    "pg_opfamily": (
        "oid int, opfmethod int, opfname string, opfnamespace string,"
        " opfowner string"),
    "pg_parameter_acl": "oid int, parname string, paracl string",
    "pg_partitioned_table": (
        "partrelid int, partstrat string, partnatts int, partdefid string,"
        " partattrs string, partclass string, partcollation string,"
        " partexprs string"),
    "pg_policies": (
        "schemaname string, tablename string, policyname string,"
        " permissive string, roles string, cmd string, qual string,"
        " with_check string"),
    "pg_policy": (
        "oid int, polname string, polrelid int, polcmd string,"
        " polpermissive string, polroles string, polqual string,"
        " polwithcheck string"),
    "pg_prepared_statements": (
        "name string, statement string, prepare_time string,"
        " parameter_types string, result_types string, from_sql string,"
        " generic_plans string, custom_plans string"),
    "pg_prepared_xacts": (
        "transaction string, gid string, prepared string, owner string,"
        " database string"),
    "pg_proc": (
        "oid int, proname string, pronamespace int, proowner int,"
        " prolang int, procost string, prorows string, provariadic string,"
        " prosupport string, prokind string, prosecdef boolean,"
        " proleakproof boolean, proisstrict boolean, proretset boolean,"
        " provolatile string, proparallel string, pronargs int,"
        " pronargdefaults int, prorettype int, proargtypes string,"
        " proallargtypes string, proargmodes string, proargnames string,"
        " proargdefaults string, protrftypes string, prosrc string,"
        " probin string, prosqlbody string, proconfig string,"
        " proacl array<string>"),
    "pg_publication": (
        "oid int, pubname string, pubowner int, puballtables string,"
        " pubinsert string, pubupdate string, pubdelete string,"
        " pubtruncate string, pubviaroot string, pubgencols string"),
    "pg_publication_namespace": "oid int, pnpubid int, pnnspid int",
    "pg_publication_rel": (
        "oid int, prpubid int, prrelid int, prqual string, prattrs string"),
    "pg_publication_tables": (
        "pubname string, schemaname string, tablename string,"
        " attnames string, rowfilter string"),
    "pg_range": (
        "rngtypid int, rngsubtype int, rngmultitypid string,"
        " rngcollation int, rngsubopc string, rngcanonical string,"
        " rngsubdiff string"),
    "pg_replication_origin": "roident int, roname string",
    "pg_replication_origin_status": (
        "local_id string, external_id string, remote_lsn string,"
        " local_lsn string"),
    "pg_replication_slots": (
        "slot_name string, plugin string, slot_type string, datoid string,"
        " database string, temporary string, active string,"
        " active_pid string, xmin string, catalog_xmin string,"
        " restart_lsn string, confirmed_flush_lsn string, wal_status string,"
        " safe_wal_size string, two_phase string, two_phase_at string,"
        " inactive_since string, conflicting string,"
        " invalidation_reason string, failover string, synced string"),
    "pg_rewrite": (
        "oid int, rulename string, ev_class int, ev_type string,"
        " ev_enabled string, is_instead string, ev_qual string,"
        " ev_action string"),
    "pg_roles": (
        "rolname string, rolsuper boolean, rolinherit boolean,"
        " rolcreaterole boolean, rolcreatedb boolean, rolcanlogin boolean,"
        " rolreplication boolean, rolconnlimit int, rolpassword string,"
        " rolvaliduntil string, rolbypassrls boolean,"
        " rolconfig array<string>, oid int"),
    "pg_rules": (
        "schemaname string, tablename string, rulename string,"
        " definition string"),
    "pg_seclabel": (
        "objoid int, classoid int, objsubid string, provider string,"
        " label string"),
    "pg_seclabels": (
        "objoid string, classoid string, objsubid string, objtype string,"
        " objnamespace string, objname string, provider string, label string"),
    "pg_sequence": (
        "seqrelid int, seqtypid string, seqstart bigint,"
        " seqincrement bigint, seqmax bigint, seqmin bigint, seqcache string,"
        " seqcycle boolean"),
    "pg_sequences": (
        "schemaname string, sequencename string, sequenceowner string,"
        " data_type string, start_value string, min_value bigint,"
        " max_value bigint, increment_by bigint, cycle boolean,"
        " cache_size string, last_value bigint"),
    "pg_settings": (
        "name string, setting string, unit string, category string,"
        " short_desc string, extra_desc string, context string,"
        " vartype string, source string, min_val string, max_val string,"
        " enumvals string, boot_val string, reset_val string,"
        " sourcefile string, sourceline string, pending_restart boolean"),
    "pg_shadow": (
        "usename string, usesysid int, usecreatedb boolean,"
        " usesuper boolean, userepl boolean, usebypassrls boolean,"
        " passwd string, valuntil string, useconfig array<string>"),
    "pg_shdepend": (
        "dbid int, classid int, objid int, objsubid string, refclassid int,"
        " refobjid int, deptype string"),
    "pg_shdescription": "objoid int, classoid int, description string",
    "pg_shmem_allocations": (
        "name string, off string, size string, allocated_size string"),
    "pg_shmem_allocations_numa": "name string, numa_node string, size string",
    "pg_shseclabel": "objoid int, classoid int, provider string, label string",
    "pg_stat_activity": (
        "datid string, datname string, pid int, leader_pid string,"
        " usesysid string, usename string, application_name string,"
        " client_addr string, client_hostname string, client_port string,"
        " backend_start string, xact_start string, query_start string,"
        " state_change string, wait_event_type string, wait_event string,"
        " state string, backend_xid string, backend_xmin string,"
        " query_id string, query string, backend_type string"),
    "pg_stat_all_indexes": (
        "relid string, indexrelid string, schemaname string, relname string,"
        " indexrelname string, idx_scan string, last_idx_scan string,"
        " idx_tup_read string, idx_tup_fetch string"),
    "pg_stat_all_tables": (
        "relid string, schemaname string, relname string, seq_scan string,"
        " last_seq_scan string, seq_tup_read string, idx_scan string,"
        " last_idx_scan string, idx_tup_fetch string, n_tup_ins string,"
        " n_tup_upd string, n_tup_del string, n_tup_hot_upd string,"
        " n_tup_newpage_upd string, n_live_tup string, n_dead_tup string,"
        " n_mod_since_analyze string, n_ins_since_vacuum string,"
        " last_vacuum string, last_autovacuum string, last_analyze string,"
        " last_autoanalyze string, vacuum_count string,"
        " autovacuum_count string, analyze_count string,"
        " autoanalyze_count string, total_vacuum_time string,"
        " total_autovacuum_time string, total_analyze_time string,"
        " total_autoanalyze_time string"),
    "pg_stat_archiver": (
        "archived_count string, last_archived_wal string,"
        " last_archived_time string, failed_count string,"
        " last_failed_wal string, last_failed_time string,"
        " stats_reset string"),
    "pg_stat_bgwriter": (
        "buffers_clean string, maxwritten_clean string,"
        " buffers_alloc string, stats_reset string"),
    "pg_stat_checkpointer": (
        "num_timed string, num_requested string, num_done string,"
        " restartpoints_timed string, restartpoints_req string,"
        " restartpoints_done string, write_time string, sync_time string,"
        " buffers_written string, slru_written string, stats_reset string"),
    "pg_stat_database": (
        "datid string, datname string, numbackends string,"
        " xact_commit string, xact_rollback string, blks_read string,"
        " blks_hit string, tup_returned string, tup_fetched string,"
        " tup_inserted string, tup_updated string, tup_deleted string,"
        " conflicts string, temp_files string, temp_bytes string,"
        " deadlocks string, checksum_failures string,"
        " checksum_last_failure string, blk_read_time string,"
        " blk_write_time string, session_time string, active_time string,"
        " idle_in_transaction_time string, sessions string,"
        " sessions_abandoned string, sessions_fatal string,"
        " sessions_killed string, parallel_workers_to_launch string,"
        " parallel_workers_launched string, stats_reset string"),
    "pg_stat_database_conflicts": (
        "datid string, datname string, confl_tablespace string,"
        " confl_lock string, confl_snapshot string, confl_bufferpin string,"
        " confl_deadlock string, confl_active_logicalslot string"),
    "pg_stat_gssapi": (
        "pid string, gss_authenticated string, principal string,"
        " encrypted string, credentials_delegated string"),
    "pg_stat_io": (
        "backend_type string, object string, context string, reads string,"
        " read_bytes string, read_time string, writes string,"
        " write_bytes string, write_time string, writebacks string,"
        " writeback_time string, extends string, extend_bytes string,"
        " extend_time string, hits string, evictions string, reuses string,"
        " fsyncs string, fsync_time string, stats_reset string"),
    "pg_stat_progress_analyze": (
        "pid string, datid string, datname string, relid string,"
        " phase string, sample_blks_total string, sample_blks_scanned string,"
        " ext_stats_total string, ext_stats_computed string,"
        " child_tables_total string, child_tables_done string,"
        " current_child_table_relid string, delay_time string"),
    "pg_stat_progress_basebackup": (
        "pid string, phase string, backup_total string,"
        " backup_streamed string, tablespaces_total string,"
        " tablespaces_streamed string"),
    "pg_stat_progress_cluster": (
        "pid string, datid string, datname string, relid string,"
        " command string, phase string, cluster_index_relid string,"
        " heap_tuples_scanned string, heap_tuples_written string,"
        " heap_blks_total string, heap_blks_scanned string,"
        " index_rebuild_count string"),
    "pg_stat_progress_copy": (
        "pid string, datid string, datname string, relid string,"
        " command string, type string, bytes_processed string,"
        " bytes_total string, tuples_processed string,"
        " tuples_excluded string, tuples_skipped string"),
    "pg_stat_progress_create_index": (
        "pid string, datid string, datname string, relid string,"
        " index_relid string, command string, phase string,"
        " lockers_total string, lockers_done string,"
        " current_locker_pid string, blocks_total string, blocks_done string,"
        " tuples_total string, tuples_done string, partitions_total string,"
        " partitions_done string"),
    "pg_stat_progress_vacuum": (
        "pid string, datid string, datname string, relid string,"
        " phase string, heap_blks_total string, heap_blks_scanned string,"
        " heap_blks_vacuumed string, index_vacuum_count string,"
        " max_dead_tuple_bytes string, dead_tuple_bytes string,"
        " num_dead_item_ids string, indexes_total string,"
        " indexes_processed string, delay_time string"),
    "pg_stat_recovery_prefetch": (
        "stats_reset string, prefetch string, hit string, skip_init string,"
        " skip_new string, skip_fpw string, skip_rep string,"
        " wal_distance string, block_distance string, io_depth string"),
    "pg_stat_replication": (
        "pid string, usesysid string, usename string,"
        " application_name string, client_addr string,"
        " client_hostname string, client_port string, backend_start string,"
        " backend_xmin string, state string, sent_lsn string,"
        " write_lsn string, flush_lsn string, replay_lsn string,"
        " write_lag string, flush_lag string, replay_lag string,"
        " sync_priority string, sync_state string, reply_time string"),
    "pg_stat_replication_slots": (
        "slot_name string, spill_txns string, spill_count string,"
        " spill_bytes string, stream_txns string, stream_count string,"
        " stream_bytes string, total_txns string, total_bytes string,"
        " stats_reset string"),
    "pg_stat_slru": (
        "name string, blks_zeroed string, blks_hit string, blks_read string,"
        " blks_written string, blks_exists string, flushes string,"
        " truncates string, stats_reset string"),
    "pg_stat_ssl": (
        "pid string, ssl string, version string, cipher string, bits string,"
        " client_dn string, client_serial string, issuer_dn string"),
    "pg_stat_subscription": (
        "subid string, subname string, worker_type string, pid string,"
        " leader_pid string, relid string, received_lsn string,"
        " last_msg_send_time string, last_msg_receipt_time string,"
        " latest_end_lsn string, latest_end_time string"),
    "pg_stat_subscription_stats": (
        "subid string, subname string, apply_error_count string,"
        " sync_error_count string, confl_insert_exists string,"
        " confl_update_origin_differs string, confl_update_exists string,"
        " confl_update_missing string, confl_delete_origin_differs string,"
        " confl_delete_missing string,"
        " confl_multiple_unique_conflicts string, stats_reset string"),
    "pg_stat_sys_indexes": (
        "relid string, indexrelid string, schemaname string, relname string,"
        " indexrelname string, idx_scan string, last_idx_scan string,"
        " idx_tup_read string, idx_tup_fetch string"),
    "pg_stat_sys_tables": (
        "relid string, schemaname string, relname string, seq_scan string,"
        " last_seq_scan string, seq_tup_read string, idx_scan string,"
        " last_idx_scan string, idx_tup_fetch string, n_tup_ins string,"
        " n_tup_upd string, n_tup_del string, n_tup_hot_upd string,"
        " n_tup_newpage_upd string, n_live_tup string, n_dead_tup string,"
        " n_mod_since_analyze string, n_ins_since_vacuum string,"
        " last_vacuum string, last_autovacuum string, last_analyze string,"
        " last_autoanalyze string, vacuum_count string,"
        " autovacuum_count string, analyze_count string,"
        " autoanalyze_count string, total_vacuum_time string,"
        " total_autovacuum_time string, total_analyze_time string,"
        " total_autoanalyze_time string"),
    "pg_stat_user_functions": (
        "funcid string, schemaname string, funcname string, calls string,"
        " total_time string, self_time string"),
    "pg_stat_user_indexes": (
        "relid int, indexrelid int, schemaname string, relname string,"
        " indexrelname string, idx_scan string, last_idx_scan string,"
        " idx_tup_read string, idx_tup_fetch string"),
    "pg_stat_user_tables": (
        "relid int, schemaname string, relname string, seq_scan string,"
        " last_seq_scan string, seq_tup_read string, idx_scan string,"
        " last_idx_scan string, idx_tup_fetch string, n_tup_ins string,"
        " n_tup_upd string, n_tup_del string, n_tup_hot_upd string,"
        " n_tup_newpage_upd string, n_live_tup double, n_dead_tup string,"
        " n_mod_since_analyze string, n_ins_since_vacuum string,"
        " last_vacuum string, last_autovacuum string, last_analyze string,"
        " last_autoanalyze string, vacuum_count string,"
        " autovacuum_count string, analyze_count string,"
        " autoanalyze_count string, total_vacuum_time string,"
        " total_autovacuum_time string, total_analyze_time string,"
        " total_autoanalyze_time string"),
    "pg_stat_wal": (
        "wal_records string, wal_fpi string, wal_bytes string,"
        " wal_buffers_full string, stats_reset string"),
    "pg_stat_wal_receiver": (
        "pid string, status string, receive_start_lsn string,"
        " receive_start_tli string, written_lsn string, flushed_lsn string,"
        " received_tli string, last_msg_send_time string,"
        " last_msg_receipt_time string, latest_end_lsn string,"
        " latest_end_time string, slot_name string, sender_host string,"
        " sender_port string, conninfo string"),
    "pg_stat_xact_all_tables": (
        "relid string, schemaname string, relname string, seq_scan string,"
        " seq_tup_read string, idx_scan string, idx_tup_fetch string,"
        " n_tup_ins string, n_tup_upd string, n_tup_del string,"
        " n_tup_hot_upd string, n_tup_newpage_upd string"),
    "pg_stat_xact_sys_tables": (
        "relid string, schemaname string, relname string, seq_scan string,"
        " seq_tup_read string, idx_scan string, idx_tup_fetch string,"
        " n_tup_ins string, n_tup_upd string, n_tup_del string,"
        " n_tup_hot_upd string, n_tup_newpage_upd string"),
    "pg_stat_xact_user_functions": (
        "funcid string, schemaname string, funcname string, calls string,"
        " total_time string, self_time string"),
    "pg_stat_xact_user_tables": (
        "relid string, schemaname string, relname string, seq_scan string,"
        " seq_tup_read string, idx_scan string, idx_tup_fetch string,"
        " n_tup_ins string, n_tup_upd string, n_tup_del string,"
        " n_tup_hot_upd string, n_tup_newpage_upd string"),
    "pg_statio_all_indexes": (
        "relid string, indexrelid string, schemaname string, relname string,"
        " indexrelname string, idx_blks_read string, idx_blks_hit string"),
    "pg_statio_all_sequences": (
        "relid string, schemaname string, relname string, blks_read string,"
        " blks_hit string"),
    "pg_statio_all_tables": (
        "relid string, schemaname string, relname string,"
        " heap_blks_read string, heap_blks_hit string, idx_blks_read string,"
        " idx_blks_hit string, toast_blks_read string, toast_blks_hit string,"
        " tidx_blks_read string, tidx_blks_hit string"),
    "pg_statio_sys_indexes": (
        "relid string, indexrelid string, schemaname string, relname string,"
        " indexrelname string, idx_blks_read string, idx_blks_hit string"),
    "pg_statio_sys_sequences": (
        "relid string, schemaname string, relname string, blks_read string,"
        " blks_hit string"),
    "pg_statio_sys_tables": (
        "relid string, schemaname string, relname string,"
        " heap_blks_read string, heap_blks_hit string, idx_blks_read string,"
        " idx_blks_hit string, toast_blks_read string, toast_blks_hit string,"
        " tidx_blks_read string, tidx_blks_hit string"),
    "pg_statio_user_indexes": (
        "relid string, indexrelid string, schemaname string, relname string,"
        " indexrelname string, idx_blks_read string, idx_blks_hit string"),
    "pg_statio_user_sequences": (
        "relid string, schemaname string, relname string, blks_read string,"
        " blks_hit string"),
    "pg_statio_user_tables": (
        "relid string, schemaname string, relname string,"
        " heap_blks_read string, heap_blks_hit string, idx_blks_read string,"
        " idx_blks_hit string, toast_blks_read string, toast_blks_hit string,"
        " tidx_blks_read string, tidx_blks_hit string"),
    "pg_statistic": (
        "starelid int, staattnum int, stainherit boolean,"
        " stanullfrac string, stawidth string, stadistinct string,"
        " stakind1 string, stakind2 string, stakind3 string, stakind4 string,"
        " stakind5 string, staop1 string, staop2 string, staop3 string,"
        " staop4 string, staop5 string, stacoll1 string, stacoll2 string,"
        " stacoll3 string, stacoll4 string, stacoll5 string,"
        " stanumbers1 string, stanumbers2 string, stanumbers3 string,"
        " stanumbers4 string, stanumbers5 string, stavalues1 string,"
        " stavalues2 string, stavalues3 string, stavalues4 string,"
        " stavalues5 string"),
    "pg_statistic_ext": (
        "oid int, stxrelid int, stxname string, stxnamespace string,"
        " stxowner string, stxkeys string, stxstattarget string,"
        " stxkind string, stxexprs string"),
    "pg_statistic_ext_data": (
        "stxoid int, stxdinherit string, stxdndistinct string,"
        " stxddependencies string, stxdmcv string, stxdexpr string"),
    "pg_stats": (
        "schemaname string, tablename string, attname string,"
        " inherited string, null_frac string, avg_width string,"
        " n_distinct string, most_common_vals string,"
        " most_common_freqs string, histogram_bounds string,"
        " correlation string, most_common_elems string,"
        " most_common_elem_freqs string, elem_count_histogram string,"
        " range_length_histogram string, range_empty_frac string,"
        " range_bounds_histogram string"),
    "pg_stats_ext": (
        "schemaname string, tablename string, statistics_schemaname string,"
        " statistics_name string, statistics_owner string, attnames string,"
        " exprs string, kinds string, inherited string, n_distinct string,"
        " dependencies string, most_common_vals string,"
        " most_common_val_nulls string, most_common_freqs string,"
        " most_common_base_freqs string"),
    "pg_stats_ext_exprs": (
        "schemaname string, tablename string, statistics_schemaname string,"
        " statistics_name string, statistics_owner string, expr string,"
        " inherited string, null_frac string, avg_width string,"
        " n_distinct string, most_common_vals string,"
        " most_common_freqs string, histogram_bounds string,"
        " correlation string, most_common_elems string,"
        " most_common_elem_freqs string, elem_count_histogram string"),
    "pg_subscription": (
        "oid int, subdbid string, subskiplsn string, subname string,"
        " subowner int, subenabled string, subbinary string,"
        " substream string, subtwophasestate string, subdisableonerr string,"
        " subpasswordrequired string, subrunasowner string,"
        " subfailover string, subconninfo string, subslotname string,"
        " subsynccommit string, subpublications string, suborigin string"),
    "pg_subscription_rel": (
        "srsubid int, srrelid int, srsubstate string, srsublsn string"),
    "pg_tables": (
        "schemaname string, tablename string, tableowner string,"
        " tablespace string, hasindexes string, hasrules string,"
        " hastriggers string, rowsecurity string"),
    "pg_tablespace": (
        "oid int, spcname string, spcowner int, spcacl string,"
        " spcoptions string"),
    "pg_timezone_abbrevs": "abbrev string, utc_offset string, is_dst string",
    "pg_timezone_names": (
        "name string, abbrev string, utc_offset string, is_dst string"),
    "pg_transform": (
        "oid int, trftype int, trflang int, trffromsql string,"
        " trftosql string"),
    "pg_trigger": (
        "oid int, tgrelid int, tgparentid string, tgname string, tgfoid int,"
        " tgtype string, tgenabled string, tgisinternal string,"
        " tgconstrrelid string, tgconstrindid string, tgconstraint string,"
        " tgdeferrable string, tginitdeferred string, tgnargs string,"
        " tgattr string, tgargs string, tgqual string, tgoldtable string,"
        " tgnewtable string"),
    "pg_ts_config": (
        "oid int, cfgname string, cfgnamespace int, cfgowner string,"
        " cfgparser string"),
    "pg_ts_config_map": (
        "mapcfg int, maptokentype int, mapseqno int, mapdict int"),
    "pg_ts_dict": (
        "oid int, dictname string, dictnamespace int, dictowner int,"
        " dicttemplate string, dictinitoption string"),
    "pg_ts_parser": (
        "oid int, prsname string, prsnamespace int, prsstart string,"
        " prstoken string, prsend string, prsheadline string,"
        " prslextype string"),
    "pg_ts_template": (
        "oid int, tmplname string, tmplnamespace int, tmplinit string,"
        " tmpllexize string"),
    "pg_type": (
        "oid int, typname string, typnamespace string, typowner string,"
        " typlen int, typbyval boolean, typtype string, typcategory string,"
        " typispreferred boolean, typisdefined boolean, typdelim string,"
        " typrelid int, typsubscript string, typelem int, typarray int,"
        " typinput string, typoutput string, typreceive string,"
        " typsend string, typmodin string, typmodout string,"
        " typanalyze string, typalign string, typstorage string,"
        " typnotnull string, typbasetype string, typtypmod string,"
        " typndims string, typcollation string, typdefaultbin string,"
        " typdefault string, typacl string"),
    "pg_user": (
        "usename string, usesysid int, usecreatedb boolean,"
        " usesuper boolean, userepl boolean, usebypassrls boolean,"
        " passwd string, valuntil string, useconfig array<string>"),
    "pg_user_mapping": "oid int, umuser int, umserver int, umoptions string",
    "pg_user_mappings": (
        "umid string, srvid string, srvname string, umuser string,"
        " usename string, umoptions string"),
    "pg_views": (
        "schemaname string, viewname string, viewowner string,"
        " definition string"),
    "pg_wait_events": "type string, name string, description string",
    "information_schema__pg_foreign_data_wrappers": (
        "oid string, fdwowner string, fdwoptions string,"
        " foreign_data_wrapper_catalog string,"
        " foreign_data_wrapper_name string, authorization_identifier string,"
        " foreign_data_wrapper_language string"),
    "information_schema__pg_foreign_servers": (
        "oid string, srvoptions string, foreign_server_catalog string,"
        " foreign_server_name string, foreign_data_wrapper_catalog string,"
        " foreign_data_wrapper_name string, foreign_server_type string,"
        " foreign_server_version string, authorization_identifier string"),
    "information_schema__pg_foreign_table_columns": (
        "nspname string, relname string, attname string,"
        " attfdwoptions string"),
    "information_schema__pg_foreign_tables": (
        "foreign_table_catalog string, foreign_table_schema string,"
        " foreign_table_name string, ftoptions string,"
        " foreign_server_catalog string, foreign_server_name string,"
        " authorization_identifier string"),
    "information_schema__pg_user_mappings": (
        "oid string, umoptions string, umuser string,"
        " authorization_identifier string, foreign_server_catalog string,"
        " foreign_server_name string, srvowner string"),
    "information_schema_administrable_role_authorizations": (
        "grantee string, role_name string, is_grantable string"),
    "information_schema_applicable_roles": (
        "grantee string, role_name string, is_grantable string"),
    "information_schema_attributes": (
        "udt_catalog string, udt_schema string, udt_name string,"
        " attribute_name string, ordinal_position string,"
        " attribute_default string, is_nullable string, data_type string,"
        " character_maximum_length string, character_octet_length string,"
        " character_set_catalog string, character_set_schema string,"
        " character_set_name string, collation_catalog string,"
        " collation_schema string, collation_name string,"
        " numeric_precision string, numeric_precision_radix string,"
        " numeric_scale string, datetime_precision string,"
        " interval_type string, interval_precision string,"
        " attribute_udt_catalog string, attribute_udt_schema string,"
        " attribute_udt_name string, scope_catalog string,"
        " scope_schema string, scope_name string, maximum_cardinality string,"
        " dtd_identifier string, is_derived_reference_attribute string"),
    "information_schema_character_sets": (
        "character_set_catalog string, character_set_schema string,"
        " character_set_name string, character_repertoire string,"
        " form_of_use string, default_collate_catalog string,"
        " default_collate_schema string, default_collate_name string"),
    "information_schema_check_constraint_routine_usage": (
        "constraint_catalog string, constraint_schema string,"
        " constraint_name string, specific_catalog string,"
        " specific_schema string, specific_name string"),
    "information_schema_check_constraints": (
        "constraint_catalog string, constraint_schema string,"
        " constraint_name string, check_clause string"),
    "information_schema_collation_character_set_applicability": (
        "collation_catalog string, collation_schema string,"
        " collation_name string, character_set_catalog string,"
        " character_set_schema string, character_set_name string"),
    "information_schema_collations": (
        "collation_catalog string, collation_schema string,"
        " collation_name string, pad_attribute string"),
    "information_schema_column_column_usage": (
        "table_catalog string, table_schema string, table_name string,"
        " column_name string, dependent_column string"),
    "information_schema_column_domain_usage": (
        "domain_catalog string, domain_schema string, domain_name string,"
        " table_catalog string, table_schema string, table_name string,"
        " column_name string"),
    "information_schema_column_options": (
        "table_catalog string, table_schema string, table_name string,"
        " column_name string, option_name string, option_value string"),
    "information_schema_column_privileges": (
        "grantor string, grantee string, table_catalog string,"
        " table_schema string, table_name string, column_name string,"
        " privilege_type string, is_grantable string"),
    "information_schema_column_udt_usage": (
        "udt_catalog string, udt_schema string, udt_name string,"
        " table_catalog string, table_schema string, table_name string,"
        " column_name string"),
    "information_schema_columns": (
        "table_catalog string, table_schema string, table_name string,"
        " column_name string, ordinal_position int, column_default string,"
        " is_nullable string, data_type string, character_maximum_length int,"
        " character_octet_length string, numeric_precision int,"
        " numeric_precision_radix string, numeric_scale int,"
        " datetime_precision int, interval_type string,"
        " interval_precision string, character_set_catalog string,"
        " character_set_schema string, character_set_name string,"
        " collation_catalog string, collation_schema string,"
        " collation_name string, domain_catalog string, domain_schema string,"
        " domain_name string, udt_catalog string, udt_schema string,"
        " udt_name string, scope_catalog string, scope_schema string,"
        " scope_name string, maximum_cardinality string,"
        " dtd_identifier string, is_self_referencing string,"
        " is_identity string, identity_generation string,"
        " identity_start string, identity_increment string,"
        " identity_maximum string, identity_minimum string,"
        " identity_cycle string, is_generated string,"
        " generation_expression string, is_updatable string"),
    "information_schema_constraint_column_usage": (
        "table_catalog string, table_schema string, table_name string,"
        " column_name string, constraint_catalog string,"
        " constraint_schema string, constraint_name string"),
    "information_schema_constraint_table_usage": (
        "table_catalog string, table_schema string, table_name string,"
        " constraint_catalog string, constraint_schema string,"
        " constraint_name string"),
    "information_schema_data_type_privileges": (
        "object_catalog string, object_schema string, object_name string,"
        " object_type string, dtd_identifier string"),
    "information_schema_domain_constraints": (
        "constraint_catalog string, constraint_schema string,"
        " constraint_name string, domain_catalog string,"
        " domain_schema string, domain_name string, is_deferrable string,"
        " initially_deferred string"),
    "information_schema_domain_udt_usage": (
        "udt_catalog string, udt_schema string, udt_name string,"
        " domain_catalog string, domain_schema string, domain_name string"),
    "information_schema_domains": (
        "domain_catalog string, domain_schema string, domain_name string,"
        " data_type string, character_maximum_length string,"
        " character_octet_length string, character_set_catalog string,"
        " character_set_schema string, character_set_name string,"
        " collation_catalog string, collation_schema string,"
        " collation_name string, numeric_precision string,"
        " numeric_precision_radix string, numeric_scale string,"
        " datetime_precision string, interval_type string,"
        " interval_precision string, domain_default string,"
        " udt_catalog string, udt_schema string, udt_name string,"
        " scope_catalog string, scope_schema string, scope_name string,"
        " maximum_cardinality string, dtd_identifier string"),
    "information_schema_element_types": (
        "object_catalog string, object_schema string, object_name string,"
        " object_type string, collection_type_identifier string,"
        " data_type string, character_maximum_length string,"
        " character_octet_length string, character_set_catalog string,"
        " character_set_schema string, character_set_name string,"
        " collation_catalog string, collation_schema string,"
        " collation_name string, numeric_precision string,"
        " numeric_precision_radix string, numeric_scale string,"
        " datetime_precision string, interval_type string,"
        " interval_precision string, udt_catalog string, udt_schema string,"
        " udt_name string, scope_catalog string, scope_schema string,"
        " scope_name string, maximum_cardinality string,"
        " dtd_identifier string"),
    "information_schema_enabled_roles": "role_name string",
    "information_schema_foreign_data_wrapper_options": (
        "foreign_data_wrapper_catalog string,"
        " foreign_data_wrapper_name string, option_name string,"
        " option_value string"),
    "information_schema_foreign_data_wrappers": (
        "foreign_data_wrapper_catalog string,"
        " foreign_data_wrapper_name string, authorization_identifier string,"
        " library_name string, foreign_data_wrapper_language string"),
    "information_schema_foreign_server_options": (
        "foreign_server_catalog string, foreign_server_name string,"
        " option_name string, option_value string"),
    "information_schema_foreign_servers": (
        "foreign_server_catalog string, foreign_server_name string,"
        " foreign_data_wrapper_catalog string,"
        " foreign_data_wrapper_name string, foreign_server_type string,"
        " foreign_server_version string, authorization_identifier string"),
    "information_schema_foreign_table_options": (
        "foreign_table_catalog string, foreign_table_schema string,"
        " foreign_table_name string, option_name string, option_value string"),
    "information_schema_foreign_tables": (
        "foreign_table_catalog string, foreign_table_schema string,"
        " foreign_table_name string, foreign_server_catalog string,"
        " foreign_server_name string"),
    "information_schema_information_schema_catalog_name": (
        "catalog_name string"),
    "information_schema_key_column_usage": (
        "constraint_catalog string, constraint_schema string,"
        " constraint_name string, table_catalog string, table_schema string,"
        " table_name string, column_name string, ordinal_position int,"
        " position_in_unique_constraint string"),
    "information_schema_parameters": (
        "specific_catalog string, specific_schema string,"
        " specific_name string, ordinal_position string,"
        " parameter_mode string, is_result string, as_locator string,"
        " parameter_name string, data_type string,"
        " character_maximum_length string, character_octet_length string,"
        " character_set_catalog string, character_set_schema string,"
        " character_set_name string, collation_catalog string,"
        " collation_schema string, collation_name string,"
        " numeric_precision string, numeric_precision_radix string,"
        " numeric_scale string, datetime_precision string,"
        " interval_type string, interval_precision string,"
        " udt_catalog string, udt_schema string, udt_name string,"
        " scope_catalog string, scope_schema string, scope_name string,"
        " maximum_cardinality string, dtd_identifier string,"
        " parameter_default string"),
    "information_schema_referential_constraints": (
        "constraint_catalog string, constraint_schema string,"
        " constraint_name string, unique_constraint_catalog string,"
        " unique_constraint_schema string, unique_constraint_name string,"
        " match_option string, update_rule string, delete_rule string"),
    "information_schema_role_column_grants": (
        "grantor string, grantee string, table_catalog string,"
        " table_schema string, table_name string, column_name string,"
        " privilege_type string, is_grantable string"),
    "information_schema_role_routine_grants": (
        "grantor string, grantee string, specific_catalog string,"
        " specific_schema string, specific_name string,"
        " routine_catalog string, routine_schema string, routine_name string,"
        " privilege_type string, is_grantable string"),
    "information_schema_role_table_grants": (
        "grantor string, grantee string, table_catalog string,"
        " table_schema string, table_name string, privilege_type string,"
        " is_grantable string, with_hierarchy string"),
    "information_schema_role_udt_grants": (
        "grantor string, grantee string, udt_catalog string,"
        " udt_schema string, udt_name string, privilege_type string,"
        " is_grantable string"),
    "information_schema_role_usage_grants": (
        "grantor string, grantee string, object_catalog string,"
        " object_schema string, object_name string, object_type string,"
        " privilege_type string, is_grantable string"),
    "information_schema_routine_column_usage": (
        "specific_catalog string, specific_schema string,"
        " specific_name string, routine_catalog string,"
        " routine_schema string, routine_name string, table_catalog string,"
        " table_schema string, table_name string, column_name string"),
    "information_schema_routine_privileges": (
        "grantor string, grantee string, specific_catalog string,"
        " specific_schema string, specific_name string,"
        " routine_catalog string, routine_schema string, routine_name string,"
        " privilege_type string, is_grantable string"),
    "information_schema_routine_routine_usage": (
        "specific_catalog string, specific_schema string,"
        " specific_name string, routine_catalog string,"
        " routine_schema string, routine_name string"),
    "information_schema_routine_sequence_usage": (
        "specific_catalog string, specific_schema string,"
        " specific_name string, routine_catalog string,"
        " routine_schema string, routine_name string,"
        " sequence_catalog string, sequence_schema string,"
        " sequence_name string"),
    "information_schema_routine_table_usage": (
        "specific_catalog string, specific_schema string,"
        " specific_name string, routine_catalog string,"
        " routine_schema string, routine_name string, table_catalog string,"
        " table_schema string, table_name string"),
    "information_schema_routines": (
        "specific_catalog string, specific_schema string,"
        " specific_name string, routine_catalog string,"
        " routine_schema string, routine_name string, routine_type string,"
        " module_catalog string, module_schema string, module_name string,"
        " udt_catalog string, udt_schema string, udt_name string,"
        " data_type string, character_maximum_length string,"
        " character_octet_length string, character_set_catalog string,"
        " character_set_schema string, character_set_name string,"
        " collation_catalog string, collation_schema string,"
        " collation_name string, numeric_precision string,"
        " numeric_precision_radix string, numeric_scale string,"
        " datetime_precision string, interval_type string,"
        " interval_precision string, type_udt_catalog string,"
        " type_udt_schema string, type_udt_name string, scope_catalog string,"
        " scope_schema string, scope_name string, maximum_cardinality string,"
        " dtd_identifier string, routine_body string,"
        " routine_definition string, external_name string,"
        " external_language string, parameter_style string,"
        " is_deterministic string, sql_data_access string,"
        " is_null_call string, sql_path string, schema_level_routine string,"
        " max_dynamic_result_sets string, is_user_defined_cast string,"
        " is_implicitly_invocable string, security_type string,"
        " to_sql_specific_catalog string, to_sql_specific_schema string,"
        " to_sql_specific_name string, as_locator string, created string,"
        " last_altered string, new_savepoint_level string,"
        " is_udt_dependent string, result_cast_from_data_type string,"
        " result_cast_as_locator string, result_cast_char_max_length string,"
        " result_cast_char_octet_length string,"
        " result_cast_char_set_catalog string,"
        " result_cast_char_set_schema string,"
        " result_cast_char_set_name string,"
        " result_cast_collation_catalog string,"
        " result_cast_collation_schema string,"
        " result_cast_collation_name string,"
        " result_cast_numeric_precision string,"
        " result_cast_numeric_precision_radix string,"
        " result_cast_numeric_scale string,"
        " result_cast_datetime_precision string,"
        " result_cast_interval_type string,"
        " result_cast_interval_precision string,"
        " result_cast_type_udt_catalog string,"
        " result_cast_type_udt_schema string,"
        " result_cast_type_udt_name string, result_cast_scope_catalog string,"
        " result_cast_scope_schema string, result_cast_scope_name string,"
        " result_cast_maximum_cardinality string,"
        " result_cast_dtd_identifier string"),
    "information_schema_schemata": (
        "catalog_name string, schema_name string, schema_owner string,"
        " default_character_set_catalog string,"
        " default_character_set_schema string,"
        " default_character_set_name string, sql_path string"),
    "information_schema_sequences": (
        "sequence_catalog string, sequence_schema string,"
        " sequence_name string, data_type string, numeric_precision string,"
        " numeric_precision_radix string, numeric_scale string,"
        " start_value string, minimum_value string, maximum_value string,"
        " increment string, cycle_option string"),
    "information_schema_sql_features": (
        "feature_id string, feature_name string, sub_feature_id string,"
        " sub_feature_name string, is_supported string,"
        " is_verified_by string, comments string"),
    "information_schema_sql_implementation_info": (
        "implementation_info_id string, implementation_info_name string,"
        " integer_value int, character_value string, comments string"),
    "information_schema_sql_parts": (
        "feature_id string, feature_name string, is_supported string,"
        " is_verified_by string, comments string"),
    "information_schema_sql_sizing": (
        "sizing_id int, sizing_name string, supported_value int,"
        " comments string"),
    "information_schema_table_constraints": (
        "constraint_catalog string, constraint_schema string,"
        " constraint_name string, table_catalog string, table_schema string,"
        " table_name string, constraint_type string, is_deferrable string,"
        " initially_deferred string, enforced string, nulls_distinct string"),
    "information_schema_table_privileges": (
        "grantor string, grantee string, table_catalog string,"
        " table_schema string, table_name string, privilege_type string,"
        " is_grantable string, with_hierarchy string"),
    "information_schema_tables": (
        "table_catalog string, table_schema string, table_name string,"
        " table_type string, self_referencing_column_name string,"
        " reference_generation string, user_defined_type_catalog string,"
        " user_defined_type_schema string, user_defined_type_name string,"
        " is_insertable_into string, is_typed string, commit_action string"),
    "information_schema_transforms": (
        "udt_catalog string, udt_schema string, udt_name string,"
        " specific_catalog string, specific_schema string,"
        " specific_name string, group_name string, transform_type string"),
    "information_schema_triggered_update_columns": (
        "trigger_catalog string, trigger_schema string, trigger_name string,"
        " event_object_catalog string, event_object_schema string,"
        " event_object_table string, event_object_column string"),
    "information_schema_triggers": (
        "trigger_catalog string, trigger_schema string, trigger_name string,"
        " event_manipulation string, event_object_catalog string,"
        " event_object_schema string, event_object_table string,"
        " action_order string, action_condition string,"
        " action_statement string, action_orientation string,"
        " action_timing string, action_reference_old_table string,"
        " action_reference_new_table string, action_reference_old_row string,"
        " action_reference_new_row string, created string"),
    "information_schema_udt_privileges": (
        "grantor string, grantee string, udt_catalog string,"
        " udt_schema string, udt_name string, privilege_type string,"
        " is_grantable string"),
    "information_schema_usage_privileges": (
        "grantor string, grantee string, object_catalog string,"
        " object_schema string, object_name string, object_type string,"
        " privilege_type string, is_grantable string"),
    "information_schema_user_defined_types": (
        "user_defined_type_catalog string, user_defined_type_schema string,"
        " user_defined_type_name string, user_defined_type_category string,"
        " is_instantiable string, is_final string, ordering_form string,"
        " ordering_category string, ordering_routine_catalog string,"
        " ordering_routine_schema string, ordering_routine_name string,"
        " reference_type string, data_type string,"
        " character_maximum_length string, character_octet_length string,"
        " character_set_catalog string, character_set_schema string,"
        " character_set_name string, collation_catalog string,"
        " collation_schema string, collation_name string,"
        " numeric_precision string, numeric_precision_radix string,"
        " numeric_scale string, datetime_precision string,"
        " interval_type string, interval_precision string,"
        " source_dtd_identifier string, ref_dtd_identifier string"),
    "information_schema_user_mapping_options": (
        "authorization_identifier string, foreign_server_catalog string,"
        " foreign_server_name string, option_name string,"
        " option_value string"),
    "information_schema_user_mappings": (
        "authorization_identifier string, foreign_server_catalog string,"
        " foreign_server_name string"),
    "information_schema_view_column_usage": (
        "view_catalog string, view_schema string, view_name string,"
        " table_catalog string, table_schema string, table_name string,"
        " column_name string"),
    "information_schema_view_routine_usage": (
        "table_catalog string, table_schema string, table_name string,"
        " specific_catalog string, specific_schema string,"
        " specific_name string"),
    "information_schema_view_table_usage": (
        "view_catalog string, view_schema string, view_name string,"
        " table_catalog string, table_schema string, table_name string"),
    "information_schema_views": (
        "table_catalog string, table_schema string, table_name string,"
        " view_definition string, check_option string, is_updatable string,"
        " is_insertable_into string, is_trigger_updatable string,"
        " is_trigger_deletable string, is_trigger_insertable_into string"),
    # engine relations: the type-joined column core and the sdb_*
    # system tables (reference pg_catalog/sdb_*.h)
    "pg_attribute_core": (
        "attrelid int, attname string, attnum int, atttypid int,"
        " atttype string, attnotnull boolean, attisdropped boolean"),
    "sdb_settings": (
        "name string, setting string, unit string, category string,"
        " vartype string, context string, boot_val string, reset_val string,"
        " min_val string, max_val string, pending_restart boolean"),
    "sdb_metrics": "name string, value double",
    "sdb_progress": (
        "pid int, datid int, usename string, datname string, state string,"
        " query string, backend_start_us bigint, query_start_us bigint,"
        " percent double, rows_processed bigint, rows_total bigint,"
        " command string, io_type string, relid int, current_relid int,"
        " phase string, bytes_processed bigint, bytes_total bigint,"
        " tuples_processed bigint, tuples_total bigint, stage bigint,"
        " stages_total bigint, step bigint, steps_total bigint,"
        " items_processed bigint, items_total bigint"),
}

#: values of the columns no builder fills that value-level tests read;
#: every other unfilled column is NULL
DEFAULTS: dict[str, dict[str, object]] = {
    "pg_database": {
        "datistemplate": False, "datallowconn": True, "dathasloginevt": False,
        "datconnlimit": -1, "datlocprovider": "c", "datcollate": "C.UTF-8",
        "datctype": "C.UTF-8", "datfrozenxid": 0, "datminmxid": 0,
        "dattablespace": 1663,
    },
    "pg_attribute": {
        "attgenerated": "", "attidentity": "", "attislocal": True,
        "atthasmissing": False, "attndims": 0, "attinhcount": 0,
        "attcollation": 0, "attstattarget": -1, "attstorage": "p",
        "attalign": "i", "attcompression": "",
    },
    "pg_class": {
        "relpages": 0, "relallvisible": 0, "relallfrozen": 0,
        "reltoastrelid": 0, "relisshared": False, "relpersistence": "p",
        "relchecks": 0, "relhasrules": False, "relhastriggers": False,
        "relhassubclass": False, "relrowsecurity": False,
        "relforcerowsecurity": False, "relispopulated": True,
        "relreplident": "d", "relispartition": False, "relrewrite": 0,
        "relfrozenxid": 0, "relminmxid": 0, "relam": 2, "relfilenode": 0,
        "reltype": 0, "reloftype": 0,
    },
    "pg_settings": {
        "extra_desc": "", "context": "user", "vartype": "string",
        "source": "default", "boot_val": "", "reset_val": "",
        "pending_restart": False,
    },
    "pg_proc": {
        "pronamespace": 11, "proowner": 1000000, "prolang": 14,
        "prokind": "f", "prosecdef": False, "proleakproof": False,
        "proisstrict": False, "provolatile": "i", "proparallel": "s",
        "pronargdefaults": 0, "prorettype": 25,
    },
    "information_schema_table_constraints": {
        "enforced": "YES", "is_deferrable": "NO", "initially_deferred": "NO",
        "constraint_schema": "public", "constraint_catalog": "serene",
        "table_catalog": "serene",
    },
    "information_schema_routines": {
        "external_language": "SQL",
    },
    "information_schema_tables": {
        "is_insertable_into": "YES", "is_typed": "NO",
    },
    "pg_constraint": {
        "convalidated": True, "condeferrable": False, "condeferred": False,
        "conenforced": True, "conislocal": True, "coninhcount": 0,
        "connoinherit": True, "connamespace": 2200,
    },
    "pg_index": {
        "indisvalid": True, "indisready": True, "indislive": True,
    },
}


#: PG's standard session settings with their documented descriptions
#: (any/pg/system/pg_settings.test) — live values merge in at view
#: build time
PG_SETTINGS_ROWS = [
    ("application_name", "",
     "Sets the application name to be reported in statistics and logs."),
    ("bytea_output", "hex", "Sets the output format for bytea."),
    ("client_encoding", "UTF8",
     "Sets the client's character set encoding."),
    ("default_transaction_read_only", "off",
     "Sets the default read-only status of new transactions."),
    ("extra_float_digits", "1",
     "Sets the number of digits displayed for floating-point values."),
    ("in_hot_standby", "off",
     "Shows whether hot standby is currently active."),
    ("integer_datetimes", "on",
     "Shows whether datetimes are integer based."),
    ("scram_iterations", "4096",
     "Sets the iteration count for SCRAM secret generation."),
    ("server_encoding", "UTF8",
     "Shows the server (database) character set encoding."),
    ("server_version", "17.0", "Shows the server version."),
    ("standard_conforming_strings", "on",
     "Causes '...' strings to treat backslashes literally."),
]

#: per-name descriptions for the LIVE session variables
PG_SETTINGS_LIVE_DESC = {
    "search_path":
        "Sets the schema search order for names that are not "
        "schema-qualified.",
    "transaction_isolation":
        "Sets the current transaction's isolation level.",
    "default_transaction_isolation":
        "Sets the transaction isolation level of each new transaction.",
}


#: PG's built-in scalar types with their REAL catalog metadata
#: (oid, typname, typlen, typbyval, typcategory, typispreferred,
#: typarray) — pg_type rows render these verbatim
#: (any/pg/system/tables.test:320). Array twins derive below.
PG_BASE_TYPES = [
    (16, "bool", 1, True, "B", True, 1000),
    (17, "bytea", -1, False, "U", False, 1001),
    (20, "int8", 8, True, "N", False, 1016),
    (21, "int2", 2, True, "N", False, 1005),
    (23, "int4", 4, True, "N", False, 1007),
    (25, "text", -1, False, "S", True, 1009),
    (700, "float4", 4, True, "N", False, 1021),
    (701, "float8", 8, True, "N", True, 1022),
    (1042, "bpchar", -1, False, "S", False, 1014),
    (1043, "varchar", -1, False, "S", False, 1015),
    (1082, "date", 4, True, "D", False, 1182),
    (1114, "timestamp", 8, True, "D", False, 1115),
    (1700, "numeric", -1, False, "N", False, 1231),
]


def pg_type_rows() -> list[tuple]:
    """(oid, typname, typlen, typbyval, typtype, typcategory,
    typispreferred, typisdefined, typdelim, typrelid, typelem,
    typarray) for every built-in scalar + its array twin."""
    rows = []
    for oid, name, ln, byval, cat, pref, arr in PG_BASE_TYPES:
        rows.append((oid, name, ln, byval, "b", cat, pref, True,
                     ",", 0, 0, arr))
        rows.append((arr, "_" + name, -1, False, "b", "A", False, True,
                     ",", 0, oid, 0))
    rows.append((705, "unknown", -2, False, "p", "X", False, True,
                 ",", 0, 0, 0))
    return sorted(rows)


#: the reference's fixed system-relation oid assignment
#: (sdb/pg/system/pg_class.test block 1) — (oid, relname, relkind);
#: '<slt:ignore>' oids are run-dependent VIEWS registered dynamically
SYSTEM_RELATIONS = [
    (101, 'pg_aggregate', 'r'),
    (102, 'pg_am', 'r'),
    (103, 'pg_amop', 'r'),
    (104, 'pg_amproc', 'r'),
    (105, 'pg_attrdef', 'r'),
    (106, 'pg_attribute', 'r'),
    (107, 'pg_authid', 'r'),
    (108, 'pg_auth_members', 'r'),
    (109, 'pg_cast', 'r'),
    (110, 'pg_class', 'r'),
    (111, 'pg_collation', 'r'),
    (112, 'pg_constraint', 'r'),
    (113, 'pg_conversion', 'r'),
    (114, 'pg_database', 'r'),
    (115, 'pg_db_role_setting', 'r'),
    (116, 'pg_default_acl', 'r'),
    (117, 'pg_depend', 'r'),
    (118, 'pg_description', 'r'),
    (119, 'pg_enum', 'r'),
    (120, 'pg_event_trigger', 'r'),
    (121, 'pg_extension', 'r'),
    (122, 'pg_foreign_data_wrapper', 'r'),
    (123, 'pg_foreign_server', 'r'),
    (124, 'pg_foreign_table', 'r'),
    (125, 'pg_index', 'r'),
    (126, 'pg_inherits', 'r'),
    (127, 'pg_init_privs', 'r'),
    (128, 'pg_language', 'r'),
    (129, 'pg_largeobject', 'r'),
    (130, 'pg_largeobject_metadata', 'r'),
    (131, 'pg_namespace', 'r'),
    (132, 'pg_opclass', 'r'),
    (133, 'pg_operator', 'r'),
    (134, 'pg_opfamily', 'r'),
    (135, 'pg_parameter_acl', 'r'),
    (136, 'pg_partitioned_table', 'r'),
    (137, 'pg_policy', 'r'),
    (138, 'pg_proc', 'r'),
    (139, 'pg_publication', 'r'),
    (140, 'pg_publication_namespace', 'r'),
    (141, 'pg_publication_rel', 'r'),
    (142, 'pg_range', 'r'),
    (143, 'pg_replication_origin', 'r'),
    (144, 'pg_rewrite', 'r'),
    (145, 'pg_seclabel', 'r'),
    (146, 'pg_sequence', 'r'),
    (147, 'pg_shdepend', 'r'),
    (148, 'pg_shdescription', 'r'),
    (149, 'pg_shseclabel', 'r'),
    (150, 'pg_statistic', 'r'),
    (151, 'pg_statistic_ext', 'r'),
    (152, 'pg_statistic_ext_data', 'r'),
    (153, 'pg_subscription', 'r'),
    (154, 'pg_subscription_rel', 'r'),
    (155, 'pg_tablespace', 'r'),
    (156, 'pg_transform', 'r'),
    (157, 'pg_trigger', 'r'),
    (158, 'pg_ts_config', 'r'),
    (159, 'pg_ts_config_map', 'r'),
    (160, 'pg_ts_dict', 'r'),
    (161, 'pg_ts_parser', 'r'),
    (162, 'pg_ts_template', 'r'),
    (163, 'pg_type', 'r'),
    (164, 'pg_user_mapping', 'r'),
    (165, 'sql_features', 'r'),
    (166, 'sql_implementation_info', 'r'),
    (167, 'sql_parts', 'r'),
    (168, 'sql_sizing', 'r'),
    (169, 'pg_hba_file_rules', 'v'),
    (999994, 'sdb_settings', 'r'),
    (999995, 'sdb_metrics', 'r'),
    (999997, 'sdb_progress', 'r'),
]

#: run-dependent-oid system views (same block, <slt:ignore> oids)
SYSTEM_RELATIONS_DYN = [
    (2000000 + 0, 'pg_roles', 'v'),
    (2000000 + 1, 'pg_shadow', 'v'),
    (2000000 + 2, 'pg_user', 'v'),
    (2000000 + 3, 'pg_rules', 'v'),
    (2000000 + 4, 'pg_views', 'v'),
    (2000000 + 5, 'pg_tables', 'v'),
    (2000000 + 6, 'pg_matviews', 'v'),
    (2000000 + 7, 'pg_indexes', 'v'),
    (2000000 + 8, 'pg_sequences', 'v'),
    (2000000 + 9, 'pg_stats', 'v'),
    (2000000 + 10, 'pg_locks', 'v'),
    (2000000 + 11, 'pg_cursors', 'v'),
    (2000000 + 12, 'pg_available_extensions', 'v'),
    (2000000 + 13, 'pg_available_extension_versions', 'v'),
    (2000000 + 14, 'pg_prepared_xacts', 'v'),
    (2000000 + 15, 'pg_prepared_statements', 'v'),
    (2000000 + 16, 'pg_seclabels', 'v'),
    (2000000 + 17, 'pg_settings', 'v'),
    (2000000 + 18, 'pg_file_settings', 'v'),
    (2000000 + 19, 'pg_ident_file_mappings', 'v'),
    (2000000 + 20, 'pg_timezone_abbrevs', 'v'),
    (2000000 + 21, 'pg_timezone_names', 'v'),
    (2000000 + 22, 'pg_config', 'v'),
    (2000000 + 23, 'pg_shmem_allocations', 'v'),
    (2000000 + 24, 'pg_shmem_allocations_numa', 'v'),
    (2000000 + 25, 'pg_backend_memory_contexts', 'v'),
    (2000000 + 26, 'pg_stat_all_tables', 'v'),
    (2000000 + 27, 'pg_stat_xact_all_tables', 'v'),
    (2000000 + 28, 'pg_stat_sys_tables', 'v'),
    (2000000 + 29, 'pg_stat_xact_sys_tables', 'v'),
    (2000000 + 30, 'pg_stat_user_tables', 'v'),
    (2000000 + 31, 'pg_stat_xact_user_tables', 'v'),
    (2000000 + 32, 'pg_statio_all_tables', 'v'),
    (2000000 + 33, 'pg_statio_sys_tables', 'v'),
    (2000000 + 34, 'pg_statio_user_tables', 'v'),
    (2000000 + 35, 'pg_stat_all_indexes', 'v'),
    (2000000 + 36, 'pg_stat_sys_indexes', 'v'),
    (2000000 + 37, 'pg_stat_user_indexes', 'v'),
    (2000000 + 38, 'pg_statio_all_indexes', 'v'),
    (2000000 + 39, 'pg_statio_sys_indexes', 'v'),
    (2000000 + 40, 'pg_statio_user_indexes', 'v'),
    (2000000 + 41, 'pg_statio_all_sequences', 'v'),
    (2000000 + 42, 'pg_statio_sys_sequences', 'v'),
    (2000000 + 43, 'pg_statio_user_sequences', 'v'),
    (2000000 + 44, 'pg_stat_activity', 'v'),
    (2000000 + 45, 'pg_stat_replication', 'v'),
    (2000000 + 46, 'pg_stat_slru', 'v'),
    (2000000 + 47, 'pg_stat_wal_receiver', 'v'),
    (2000000 + 48, 'pg_stat_recovery_prefetch', 'v'),
    (2000000 + 49, 'pg_stat_subscription', 'v'),
    (2000000 + 50, 'pg_stat_ssl', 'v'),
    (2000000 + 51, 'pg_stat_gssapi', 'v'),
    (2000000 + 52, 'pg_replication_slots', 'v'),
    (2000000 + 53, 'pg_stat_replication_slots', 'v'),
    (2000000 + 54, 'pg_stat_database', 'v'),
    (2000000 + 55, 'pg_stat_database_conflicts', 'v'),
    (2000000 + 56, 'pg_stat_user_functions', 'v'),
    (2000000 + 57, 'pg_stat_xact_user_functions', 'v'),
    (2000000 + 58, 'pg_stat_archiver', 'v'),
    (2000000 + 59, 'pg_stat_bgwriter', 'v'),
    (2000000 + 60, 'pg_stat_checkpointer', 'v'),
    (2000000 + 61, 'pg_stat_io', 'v'),
    (2000000 + 62, 'pg_stat_wal', 'v'),
    (2000000 + 63, 'pg_stat_progress_analyze', 'v'),
    (2000000 + 64, 'pg_stat_progress_vacuum', 'v'),
    (2000000 + 65, 'pg_stat_progress_cluster', 'v'),
    (2000000 + 66, 'pg_stat_progress_create_index', 'v'),
    (2000000 + 67, 'pg_stat_progress_basebackup', 'v'),
    (2000000 + 68, 'pg_stat_progress_copy', 'v'),
    (2000000 + 69, 'pg_user_mappings', 'v'),
    (2000000 + 70, 'pg_replication_origin_status', 'v'),
    (2000000 + 71, 'pg_stat_subscription_stats', 'v'),
    (2000000 + 72, 'pg_wait_events', 'v'),
    (2000000 + 73, 'pg_aios', 'v'),
    (2000000 + 74, 'information_schema_catalog_name', 'v'),
    (2000000 + 75, 'applicable_roles', 'v'),
    (2000000 + 76, 'administrable_role_authorizations', 'v'),
    (2000000 + 77, 'attributes', 'v'),
    (2000000 + 78, 'character_sets', 'v'),
    (2000000 + 79, 'check_constraint_routine_usage', 'v'),
    (2000000 + 80, 'check_constraints', 'v'),
    (2000000 + 81, 'collations', 'v'),
    (2000000 + 82, 'collation_character_set_applicability', 'v'),
    (2000000 + 83, 'column_column_usage', 'v'),
    (2000000 + 84, 'column_domain_usage', 'v'),
    (2000000 + 85, 'column_privileges', 'v'),
    (2000000 + 86, 'column_udt_usage', 'v'),
    (2000000 + 87, 'columns', 'v'),
    (2000000 + 88, 'constraint_column_usage', 'v'),
    (2000000 + 89, 'constraint_table_usage', 'v'),
    (2000000 + 90, 'domain_constraints', 'v'),
    (2000000 + 91, 'domain_udt_usage', 'v'),
    (2000000 + 92, 'domains', 'v'),
    (2000000 + 93, 'enabled_roles', 'v'),
    (2000000 + 94, 'parameters', 'v'),
    (2000000 + 95, 'referential_constraints', 'v'),
    (2000000 + 96, 'role_column_grants', 'v'),
    (2000000 + 97, 'routine_column_usage', 'v'),
    (2000000 + 98, 'routine_privileges', 'v'),
    (2000000 + 99, 'role_routine_grants', 'v'),
    (2000000 + 100, 'routine_routine_usage', 'v'),
    (2000000 + 101, 'routine_sequence_usage', 'v'),
    (2000000 + 102, 'routine_table_usage', 'v'),
    (2000000 + 103, 'routines', 'v'),
    (2000000 + 104, 'schemata', 'v'),
    (2000000 + 105, 'sequences', 'v'),
    (2000000 + 106, 'table_constraints', 'v'),
    (2000000 + 107, 'table_privileges', 'v'),
    (2000000 + 108, 'role_table_grants', 'v'),
    (2000000 + 109, 'tables', 'v'),
    (2000000 + 110, 'transforms', 'v'),
    (2000000 + 111, 'triggered_update_columns', 'v'),
    (2000000 + 112, 'triggers', 'v'),
    (2000000 + 113, 'udt_privileges', 'v'),
    (2000000 + 114, 'role_udt_grants', 'v'),
    (2000000 + 115, 'usage_privileges', 'v'),
    (2000000 + 116, 'role_usage_grants', 'v'),
    (2000000 + 117, 'user_defined_types', 'v'),
    (2000000 + 118, 'view_column_usage', 'v'),
    (2000000 + 119, 'view_routine_usage', 'v'),
    (2000000 + 120, 'view_table_usage', 'v'),
    (2000000 + 121, 'views', 'v'),
    (2000000 + 122, 'data_type_privileges', 'v'),
    (2000000 + 123, 'element_types', 'v'),
    (2000000 + 124, '_pg_foreign_table_columns', 'v'),
    (2000000 + 125, 'column_options', 'v'),
    (2000000 + 126, '_pg_foreign_data_wrappers', 'v'),
    (2000000 + 127, 'foreign_data_wrapper_options', 'v'),
    (2000000 + 128, 'foreign_data_wrappers', 'v'),
    (2000000 + 129, '_pg_foreign_servers', 'v'),
    (2000000 + 130, 'foreign_server_options', 'v'),
    (2000000 + 131, 'foreign_servers', 'v'),
    (2000000 + 132, '_pg_foreign_tables', 'v'),
    (2000000 + 133, 'foreign_table_options', 'v'),
    (2000000 + 134, 'foreign_tables', 'v'),
    (2000000 + 135, '_pg_user_mappings', 'v'),
    (2000000 + 136, 'user_mapping_options', 'v'),
    (2000000 + 137, 'user_mappings', 'v'),
]
